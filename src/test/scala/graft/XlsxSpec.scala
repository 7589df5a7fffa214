package graft

import graft.sources.Xlsx
import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** S3 on a REAL .xlsx: the fixture is a genuine SpreadsheetML zip
  * (two sheets, shared strings incl. a rich-text run, inline
  * strings, numeric cells, a sparse row with a skipped column) built
  * with ZipOutputStream — exactly the structure Excel emits.
  */
class XlsxSpec extends SparkSpec {

  private def entry(z: ZipOutputStream, name: String, content: String): Unit = {
    z.putNextEntry(new ZipEntry(name))
    z.write(content.getBytes("UTF-8"))
    z.closeEntry()
  }

  /** Minimal valid workbook: sheet1 = decoy, sheet2 = the target
    * 'Paid order list' (matching the reference's sheet name,
    * main.py:98).
    */
  private def workbookBytes(rows2: String, styles: String = null): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    if (styles != null) entry(z, "xl/styles.xml", styles)
    entry(z, "[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    entry(z, "xl/workbook.xml",
      """<?xml version="1.0"?>
        |<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"
        |          xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">
        |  <sheets>
        |    <sheet name="Summary" sheetId="1" r:id="rId1"/>
        |    <sheet name="Paid order list" sheetId="2" r:id="rId2"/>
        |  </sheets>
        |</workbook>""".stripMargin)
    entry(z, "xl/_rels/workbook.xml.rels",
      """<?xml version="1.0"?>
        |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |  <Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>
        |  <Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/>
        |</Relationships>""".stripMargin)
    // shared strings: [0]=Order ID, [1]=Products, [2]=Amount,
    // [3] is a RICH-TEXT run split across two <r><t> fragments
    entry(z, "xl/sharedStrings.xml",
      """<?xml version="1.0"?>
        |<sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="4" uniqueCount="4">
        |  <si><t>Order ID</t></si>
        |  <si><t>Products</t></si>
        |  <si><t>Amount</t></si>
        |  <si><r><t>Spanish Latte</t></r><r><t xml:space="preserve"> (Solo) (Hot)</t></r></si>
        |</sst>""".stripMargin)
    entry(z, "xl/worksheets/sheet1.xml",
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheetData><row r="1"><c r="A1" t="inlineStr"><is><t>decoy</t></is></c></row></sheetData>
        |</worksheet>""".stripMargin)
    entry(z, "xl/worksheets/sheet2.xml", rows2)
    z.close()
    bos.toByteArray
  }

  private val targetSheet =
    """<?xml version="1.0"?>
      |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      |  <sheetData>
      |    <row r="1">
      |      <c r="A1" t="s"><v>0</v></c>
      |      <c r="B1" t="s"><v>1</v></c>
      |      <c r="C1" t="s"><v>2</v></c>
      |    </row>
      |    <row r="2">
      |      <c r="A2"><v>1</v></c>
      |      <c r="B2" t="s"><v>3</v></c>
      |      <c r="C2"><v>123.45</v></c>
      |    </row>
      |    <row r="3">
      |      <c r="A3"><v>2</v></c>
      |      <c r="C3"><v>67.8</v></c>
      |    </row>
      |    <row r="4">
      |      <c r="A4"><v>3</v></c>
      |      <c r="B4" t="inlineStr"><is><t>Biscoff Croffle x2</t></is></c>
      |      <c r="C4"><v>50</v></c>
      |    </row>
      |  </sheetData>
      |</worksheet>""".stripMargin

  test("parseSheet: sheet-by-name, shared/rich/inline strings, sparse cells") {
    val rows = Xlsx.parseSheet(workbookBytes(targetSheet), "Paid order list")
    assert(rows === Seq(
      Seq(Some("Order ID"), Some("Products"), Some("Amount")),
      Seq(Some("1"), Some("Spanish Latte (Solo) (Hot)"), Some("123.45")),
      Seq(Some("2"), None, Some("67.8")), // B3 skipped → sparse None
      Seq(Some("3"), Some("Biscoff Croffle x2"), Some("50"))))
    // decoy sheet resolves independently
    val decoy = Xlsx.parseSheet(workbookBytes(targetSheet), "Summary")
    assert(decoy === Seq(Seq(Some("decoy"))))
    // unknown sheet fails loudly, not silently empty
    val e = intercept[RuntimeException] {
      Xlsx.parseSheet(workbookBytes(targetSheet), "Nope")
    }
    assert(e.getMessage.contains("not found"))
  }

  // style 0 = General, 1 = built-in datetime (22), 2 = money number
  // format, 3 = a CUSTOM date format (id ≥ 164 via <numFmts>)
  private val stylesXml =
    """<?xml version="1.0"?>
      |<styleSheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
      |  <numFmts count="1">
      |    <numFmt numFmtId="164" formatCode="dd/mm/yyyy hh:mm"/>
      |  </numFmts>
      |  <cellStyleXfs count="1"><xf numFmtId="0"/></cellStyleXfs>
      |  <cellXfs count="4">
      |    <xf numFmtId="0"/>
      |    <xf numFmtId="22" applyNumberFormat="1"/>
      |    <xf numFmtId="4" applyNumberFormat="1"/>
      |    <xf numFmtId="164" applyNumberFormat="1"/>
      |  </cellXfs>
      |</styleSheet>""".stripMargin

  test("date-formatted cells render ISO-8601; number formats stay raw") {
    // serial 46023 = 2026-01-01 (epoch 1899-12-30); .4375 = 10:30:00
    val sheet =
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheetData>
        |    <row r="1">
        |      <c r="A1" s="1"><v>46023.4375</v></c>
        |      <c r="B1" s="3"><v>46023</v></c>
        |      <c r="C1" s="2"><v>1250.5</v></c>
        |      <c r="D1"><v>46023</v></c>
        |      <c r="E1" t="s" s="1"><v>0</v></c>
        |    </row>
        |  </sheetData>
        |</worksheet>""".stripMargin
    val rows = Xlsx.parseSheet(workbookBytes(sheet, stylesXml), "Paid order list")
    assert(rows === Seq(Seq(
      Some("2026-01-01 10:30:00"), // built-in datetime style
      Some("2026-01-01 00:00:00"), // custom date format
      Some("1250.5"),              // money number format: raw value
      Some("46023"),               // unstyled numeric: raw value
      Some("Order ID"))))          // date style on a STRING cell: untouched
  }

  test("isDateCode: y/m/d/h/s tokens outside quotes/brackets/escapes") {
    import graft.sources.Xlsx.isDateCode
    assert(isDateCode("yyyy-mm-dd"))
    assert(isDateCode("hh:mm AM/PM"))
    assert(isDateCode("[h]:mm:ss")) // elapsed time
    assert(!isDateCode("#,##0.00"))
    assert(!isDateCode("[Red]0.00"))      // 'd' only inside the color
    assert(!isDateCode("0.00E+00"))
    assert(!isDateCode("\"days\" 0.0"))   // tokens only inside quotes
    assert(!isDateCode("General"))
  }

  test("readSheets: executor-side parse of a folder of workbooks") {
    import org.apache.spark.sql.types.StructType
    val dir = tmpDir("xlsx")
    val bytes = workbookBytes(targetSheet)
    Seq("day1.xlsx", "day2.xlsx").foreach { f =>
      val out = new FileOutputStream(s"$dir/$f")
      out.write(bytes); out.close()
    }
    val schema = StructType.fromDDL(
      "`Order ID` STRING, `Products` STRING, `Amount` STRING")
    val df = Xlsx.readSheets(spark, dir, "Paid order list", schema)
    assert(df.count() === 6) // 3 data rows × 2 files
    assert(df.columns.toSeq === Seq("_src_file", "Order ID", "Products", "Amount"))
    val r1 = df.filter(df("Order ID") === "1").select("Products").distinct()
    assert(r1.collect().map(_.getString(0)).toSeq === Seq("Spanish Latte (Solo) (Hot)"))
    // sparse cell surfaces as null
    assert(df.filter(df("Order ID") === "2")
      .filter(df("Products").isNull).count() === 2)
  }

  test("F1: a corrupt workbook is skipped file-grained, good files still load") {
    import org.apache.spark.sql.types.StructType
    val dir = tmpDir("xlsx-corrupt")
    val good = new FileOutputStream(s"$dir/good.xlsx")
    good.write(workbookBytes(targetSheet)); good.close()
    val bad = new FileOutputStream(s"$dir/bad.xlsx")
    bad.write("this is not a zip archive".getBytes("UTF-8")); bad.close()
    val schema = StructType.fromDDL(
      "`Order ID` STRING, `Products` STRING, `Amount` STRING")
    // strict mode fails the job loudly
    intercept[org.apache.spark.SparkException] {
      Xlsx.readSheets(spark, dir, "Paid order list", schema).count()
    }
    // F1 mode: the good workbook's rows survive, the bad one is listed
    val df = Xlsx.readSheets(spark, dir, "Paid order list", schema, skipCorrupt = true)
    assert(df.count() === 3)
    val corrupt = Xlsx.corruptFiles(spark, dir, "Paid order list")
    assert(corrupt.size === 1 && corrupt.head.endsWith("bad.xlsx"))
  }

  test("date + money cells flow through the POS transform path") {
    import graft.etl.Transform
    import org.apache.spark.sql.types.StructType
    val dir = tmpDir("xlsx-dates")
    // Payment time as a DATE-STYLED serial, amounts as plain numeric
    // cells — the shapes a real Excel export stores (not strings)
    val sheet =
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheetData>
        |    <row r="1">
        |      <c r="A1" t="inlineStr"><is><t>Order ID</t></is></c>
        |      <c r="B1" t="inlineStr"><is><t>Products</t></is></c>
        |      <c r="C1" t="inlineStr"><is><t>Product amount</t></is></c>
        |      <c r="D1" t="inlineStr"><is><t>Received amount</t></is></c>
        |      <c r="E1" t="inlineStr"><is><t>Payment time</t></is></c>
        |      <c r="F1" t="inlineStr"><is><t>Cash</t></is></c>
        |      <c r="G1" t="inlineStr"><is><t>Gcash</t></is></c>
        |      <c r="H1" t="inlineStr"><is><t>Type/Channel</t></is></c>
        |    </row>
        |    <row r="2">
        |      <c r="A2"><v>1</v></c>
        |      <c r="B2" t="inlineStr"><is><t>Spanish Latte (Solo) (Hot) x2</t></is></c>
        |      <c r="C2" s="2"><v>300</v></c>
        |      <c r="D2" s="2"><v>300</v></c>
        |      <c r="E2" s="1"><v>46023.4375</v></c>
        |      <c r="F2" s="2"><v>300</v></c>
        |      <c r="G2" t="inlineStr"><is><t>-</t></is></c>
        |      <c r="H2" t="inlineStr"><is><t>Dine-in</t></is></c>
        |    </row>
        |  </sheetData>
        |</worksheet>""".stripMargin
    val out = new FileOutputStream(s"$dir/day.xlsx")
    out.write(workbookBytes(sheet, stylesXml)); out.close()
    val schema = StructType.fromDDL(
      "`Order ID` STRING, `Products` STRING, `Product amount` STRING, " +
        "`Received amount` STRING, `Payment time` STRING, `Cash` STRING, " +
        "`Gcash` STRING, `Type/Channel` STRING")
    val raw = Xlsx.readSheets(spark, dir, "Paid order list", schema).drop("_src_file")
    val clean = Transform.run(raw, Transform.dimDF(spark)).clean
    val row = clean.select("items", "payment_time", "total_order_amount",
      "quantity", "payment_type").collect().map(_.toSeq).toSeq
    assert(row === Seq(Seq(
      "Spanish Latte", "2026-01-01 10:30:00", 300.0, 2.0, "Cash")))
  }

  test("corruptFiles lists header-drift workbooks, same check as readSheets") {
    import org.apache.spark.sql.types.StructType
    val dir = tmpDir("xlsx-drift")
    val good = new FileOutputStream(s"$dir/good.xlsx")
    good.write(workbookBytes(targetSheet)); good.close()
    // parses fine, but the sheet header doesn't match the contract —
    // readSheets(skipCorrupt) drops it, so the listing must show it
    val drifted =
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheetData>
        |    <row r="1"><c r="A1" t="inlineStr"><is><t>Renamed</t></is></c></row>
        |    <row r="2"><c r="A2"><v>1</v></c></row>
        |  </sheetData>
        |</worksheet>""".stripMargin
    val bad = new FileOutputStream(s"$dir/drift.xlsx")
    bad.write(workbookBytes(drifted)); bad.close()
    val schema = StructType.fromDDL(
      "`Order ID` STRING, `Products` STRING, `Amount` STRING")
    val df = Xlsx.readSheets(spark, dir, "Paid order list", schema, skipCorrupt = true)
    assert(df.count() === 3) // only good.xlsx rows
    val listed = Xlsx.corruptFiles(spark, dir, "Paid order list", schema)
    assert(listed.size === 1 && listed.head.endsWith("drift.xlsx"))
    // without a schema the parse-only check still passes drift.xlsx
    assert(Xlsx.corruptFiles(spark, dir, "Paid order list").isEmpty)
  }

  test("empty sheet under a contract: loud in strict mode, listed under skipCorrupt") {
    import org.apache.spark.sql.types.StructType
    val dir = tmpDir("xlsx-empty")
    val empty =
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheetData/>
        |</worksheet>""".stripMargin
    val f = new FileOutputStream(s"$dir/empty.xlsx")
    f.write(workbookBytes(empty)); f.close()
    val schema = StructType.fromDDL(
      "`Order ID` STRING, `Products` STRING, `Amount` STRING")
    // strict: fails loudly, never a silent zero-row load
    val e = intercept[org.apache.spark.SparkException] {
      Xlsx.readSheets(spark, dir, "Paid order list", schema).count()
    }
    assert(e.getMessage.contains("empty sheet") ||
      e.getCause != null && e.getCause.getMessage.contains("empty sheet"))
    // skipCorrupt: dropped AND surfaced by the quarantine listing
    assert(Xlsx.readSheets(spark, dir, "Paid order list", schema,
      skipCorrupt = true).count() === 0)
    val listed = Xlsx.corruptFiles(spark, dir, "Paid order list", schema)
    assert(listed.size === 1 && listed.head.endsWith("empty.xlsx"))
  }

  test("S3 end-to-end: real .xlsx staging folder through the full pipeline") {
    import graft.etl.{ParquetUpsertSink, Transform}
    import graft.sources.FileSources.XlsxSheetSource
    import graft.streaming.Ingest
    val base = tmpDir("xlsx-e2e")
    val staging = base + "/staging"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
    // a workbook whose sheet carries the FULL raw-report contract
    val sheet =
      """<?xml version="1.0"?>
        |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
        |  <sheetData>
        |    <row r="1">
        |      <c r="A1" t="inlineStr"><is><t>Order ID</t></is></c>
        |      <c r="B1" t="inlineStr"><is><t>Products</t></is></c>
        |      <c r="C1" t="inlineStr"><is><t>Product amount</t></is></c>
        |      <c r="D1" t="inlineStr"><is><t>Received amount</t></is></c>
        |      <c r="E1" t="inlineStr"><is><t>Payment time</t></is></c>
        |      <c r="F1" t="inlineStr"><is><t>Cash</t></is></c>
        |      <c r="G1" t="inlineStr"><is><t>Gcash</t></is></c>
        |      <c r="H1" t="inlineStr"><is><t>Type/Channel</t></is></c>
        |    </row>
        |    <row r="2">
        |      <c r="A2"><v>1</v></c>
        |      <c r="B2" t="inlineStr"><is><t>Spanish Latte (Solo) (Hot) x2,Biscoff Croffle</t></is></c>
        |      <c r="C2"><v>300</v></c>
        |      <c r="D2"><v>300</v></c>
        |      <c r="E2" t="inlineStr"><is><t>2026-01-01 10:00:00</t></is></c>
        |      <c r="F2"><v>300</v></c>
        |      <c r="G2" t="inlineStr"><is><t>-</t></is></c>
        |      <c r="H2" t="inlineStr"><is><t>Dine-in</t></is></c>
        |    </row>
        |  </sheetData>
        |</worksheet>""".stripMargin
    val out = new FileOutputStream(s"$staging/day1.xlsx")
    out.write(workbookSheet2Bytes(sheet)); out.close()

    val factPath = base + "/fact"
    val (nc, nq) = Ingest.ingestBatch(spark, staging,
      XlsxSheetSource("Paid order list"),
      new ParquetUpsertSink(spark, factPath), base + "/quar",
      Transform.dimDF(spark), archiveDir = Some(base + "/archive"))
    assert((nc, nq) === ((2L, 0L)))
    val items = graft.etl.Load.readTable(spark, factPath)
      .select("items").orderBy("items")
      .collect().map(_.getString(0)).toSeq
    assert(items === Seq("Croffle - Biscoff", "Spanish Latte"))
    // S7: the consumed workbook moved staging -> archive
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(staging, "day1.xlsx")))
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(base + "/archive", "day1.xlsx")))
  }

  private def workbookSheet2Bytes(sheet2: String): Array[Byte] =
    workbookBytes(sheet2)

  private def contractSheet(orderId: Int, products: String, amount: String): String =
    s"""<?xml version="1.0"?>
       |<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">
       |  <sheetData>
       |    <row r="1">
       |      <c r="A1" t="inlineStr"><is><t>Order ID</t></is></c>
       |      <c r="B1" t="inlineStr"><is><t>Products</t></is></c>
       |      <c r="C1" t="inlineStr"><is><t>Product amount</t></is></c>
       |      <c r="D1" t="inlineStr"><is><t>Received amount</t></is></c>
       |      <c r="E1" t="inlineStr"><is><t>Payment time</t></is></c>
       |      <c r="F1" t="inlineStr"><is><t>Cash</t></is></c>
       |      <c r="G1" t="inlineStr"><is><t>Gcash</t></is></c>
       |      <c r="H1" t="inlineStr"><is><t>Type/Channel</t></is></c>
       |    </row>
       |    <row r="2">
       |      <c r="A2"><v>$orderId</v></c>
       |      <c r="B2" t="inlineStr"><is><t>$products</t></is></c>
       |      <c r="C2"><v>$amount</v></c>
       |      <c r="D2"><v>$amount</v></c>
       |      <c r="E2" t="inlineStr"><is><t>2026-01-0$orderId 10:00:00</t></is></c>
       |      <c r="F2"><v>$amount</v></c>
       |      <c r="G2" t="inlineStr"><is><t>-</t></is></c>
       |      <c r="H2" t="inlineStr"><is><t>Dine-in</t></is></c>
       |    </row>
       |  </sheetData>
       |</worksheet>""".stripMargin

  test("A7/S3 streaming: xlsx workbooks through the checkpointed file stream") {
    import graft.etl.ParquetUpsertSink
    import graft.etl.Transform
    import graft.streaming.Ingest
    val base = tmpDir("xlsx-stream")
    val staging = base + "/staging"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staging))
    def put(name: String, sheet: String): Unit = {
      val out = new FileOutputStream(s"$staging/$name")
      out.write(workbookBytes(sheet)); out.close()
    }
    put("day1.xlsx", contractSheet(1, "Spanish Latte (Solo) (Hot) x2", "250"))
    put("day2.xlsx", contractSheet(2, "Biscoff Croffle", "150"))
    val factPath = base + "/fact"
    def run(): Unit = Ingest.ingestXlsxAvailableNow(spark, staging,
      base + "/archive", base + "/ckpt",
      new ParquetUpsertSink(spark, factPath), base + "/quar",
      Transform.dimDF(spark))
    // each micro-batch persists its transformed rows once for both
    // sinks and must drop them before the pass returns
    def cached(): Boolean = !spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
    spark.catalog.clearCache()
    run()
    assert(!cached())
    val items = graft.etl.Load.readTable(spark, factPath)
      .select("items").orderBy("items").collect().map(_.getString(0)).toSeq
    assert(items === Seq("Croffle - Biscoff", "Spanish Latte"))
    // incremental: a NEW workbook in a second AvailableNow pass adds
    // only its rows (checkpoint skips the consumed ones)
    put("day3.xlsx", contractSheet(3, "Americano (Duo) (Hot)", "120"))
    run()
    assert(!cached())
    val after = graft.etl.Load.readTable(spark, factPath)
      .select("items").orderBy("items").collect().map(_.getString(0)).toSeq
    assert(after === Seq("Americano", "Croffle - Biscoff", "Spanish Latte"))
    // S7: the source's cleaner archives consumed workbooks; it runs
    // asynchronously after each commit (same poll as IngestSpec) —
    // day1/day2 were consumed a full query ago, so they must land
    var archived = 0L
    var tries = 0
    while (archived < 2 && tries < 20) {
      Thread.sleep(250)
      val a = java.nio.file.Paths.get(base + "/archive")
      archived = if (java.nio.file.Files.exists(a))
        java.nio.file.Files.walk(a).filter(p =>
          p.toString.endsWith(".xlsx")).count()
      else 0L
      tries += 1
    }
    assert(archived >= 2, s"expected >=2 archived workbooks, saw $archived")
  }
}
