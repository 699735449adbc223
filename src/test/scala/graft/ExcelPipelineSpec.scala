package graft

import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.ops.{CsvIO, PipelineRunner}
import graft.sources.ExcelSource
import org.apache.spark.sql.functions.concat_ws

/** Excel source (A1/A2) + full EP1→EP2 pipeline: xlsx fixture → sanitized
  * pipe-CSV → staged upsert into a parquet table, all through the runner's
  * error-as-value API.
  */
class ExcelPipelineSpec extends SparkSpec {

  /** Minimal valid xlsx: 2 sheets, shared strings, numerics, dirty cells. */
  private def writeXlsx(path: String): Unit = {
    def sheetXml(rows: Seq[Seq[(String, String)]]): String = {
      // rows of (type, value): type "s"=shared idx, "n"=numeric, "is"=inline
      val body = rows.zipWithIndex.map { case (cells, ri) =>
        val cellXml = cells.zipWithIndex.map { case ((t, v), ci) =>
          val ref = s"${('A' + ci).toChar}${ri + 1}"
          t match {
            case "s" => s"""<c r="$ref" t="s"><v>$v</v></c>"""
            case "is" => s"""<c r="$ref" t="inlineStr"><is><t>$v</t></is></c>"""
            case _ => s"""<c r="$ref"><v>$v</v></c>"""
          }
        }.mkString
        s"<row r=\"${ri + 1}\">$cellXml</row>"
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$body</sheetData></worksheet>"""
    }
    val shared = Seq("k", "s", "v", "alpha, one", "beta'two", "gamma/three")
    val sharedXml =
      """<?xml version="1.0" encoding="UTF-8"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main">""" +
        shared.map(s => s"<si><t>$s</t></si>").mkString + "</sst>"
    val workbook =
      """<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="data" sheetId="1" r:id="rId1"/><sheet name="extra" sheetId="2" r:id="rId2"/></sheets></workbook>"""
    val rels =
      """<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/></Relationships>"""
    val sheet1 = sheetXml(Seq(
      Seq(("s", "0"), ("s", "1"), ("s", "2")),            // header k|s|v
      Seq(("n", "1"), ("s", "3"), ("n", "10.5")),          // 1.0|alpha, one|10.5
      Seq(("n", "2"), ("s", "4"), ("n", "20")),            // 2.0|beta'two|20.0
      Seq(("n", "4"), ("is", "deltaéx"), ("n", "40")))) // non-ascii é dropped
    val sheet2 = sheetXml(Seq(Seq(("s", "5"), ("n", "3.25"))))
    val zos = new ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    put("[Content_Types].xml", """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    put("xl/workbook.xml", workbook)
    put("xl/_rels/workbook.xml.rels", rels)
    put("xl/sharedStrings.xml", sharedXml)
    put("xl/worksheets/sheet1.xml", sheet1)
    put("xl/worksheets/sheet2.xml", sheet2)
    zos.close()
  }

  test("ExcelSource reads sheets, shared strings, numerics as str(float), sheet selector") {
    import spark.implicits._
    val dir = tmpDir("xlsx")
    writeXlsx(s"$dir/My Book-2024.xlsx")
    val all = ExcelSource.read(spark, dir, "all")
    assert(all.select($"sheet").distinct().collect().map(_.getString(0)).toSet ==
      Set("data", "extra"))
    val rows = all.filter($"sheet" === "data").orderBy($"row_idx")
      .select($"cells").collect().map(_.getSeq[String](0))
    assert(rows(0) == Seq("k", "s", "v"))
    assert(rows(1) == Seq("1.0", "alpha, one", "10.5"), "ints render as 1.0 like str(float)")
    assert(rows(2) == Seq("2.0", "beta'two", "20.0"))
    assert(rows(3) == Seq("4.0", "deltaéx", "40.0"))
    val one = ExcelSource.read(spark, dir, "extra")
    assert(one.select($"sheet").distinct().collect().map(_.getString(0)).toSeq == Seq("extra"))
  }

  test("cell edge cases: rich-text run concat, error/date raw, empty cell, Python-style numerics") {
    val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val sheet =
      s"""<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="$ns"><sheetData><row r="1">""" +
        """<c r="A1" t="inlineStr"><is><r><t>Hello </t></r><r><t>World</t></r></is></c>""" +
        """<c r="B1" t="e"><v>#DIV/0!</v></c>""" +
        """<c r="C1"/>""" +
        """<c r="D1"><v>0.0001</v></c>""" +
        """<c r="E1"><v>1000000000000000</v></c>""" +
        """<c r="F1" t="d"><v>2024-01-02T03:04:05</v></c>""" +
        """<c r="G1" t="inlineStr"><is><r><t>東京</t></r><rPh sb="0" eb="2"><t>トウキョウ</t></rPh></is></c>""" +
        """<c r="H1"><v>-0</v></c>""" +
        "</row>" +
        // rows 2-3 blank (omitted from the XML) — must pad, not collapse
        """<row r="4"><c r="A4" t="str"><v>after-gap</v></c></row>""" +
        "</sheetData></worksheet>"
    val workbook =
      s"""<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="$ns" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="edge" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val rels =
      """<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    Seq("xl/workbook.xml" -> workbook, "xl/_rels/workbook.xml.rels" -> rels,
        "xl/worksheets/sheet1.xml" -> sheet).foreach { case (n, c) =>
      zos.putNextEntry(new ZipEntry(n)); zos.write(c.getBytes("UTF-8")); zos.closeEntry()
    }
    zos.close()
    val rows = ExcelSource.parseWorkbook(bos.toByteArray, "all")
    assert(rows === Seq(
      ("edge", 0, Seq("Hello World", "#DIV/0!", "", "0.0001",
        "1000000000000000.0", "2024-01-02T03:04:05", "東京", "-0.0")),
      ("edge", 1, Seq.empty), ("edge", 2, Seq.empty),
      ("edge", 3, Seq("after-gap"))))
  }

  test("writeWorkbook round-trips through ExcelSource.read (numeric + string cells)") {
    import spark.implicits._
    val dir = tmpDir("wb_roundtrip")
    ExcelSource.writeWorkbook(s"$dir/gen.xlsx", Seq(
      "s1" -> Seq(Seq("1", "a<b&c", "10.5"), Seq("2", "plain", "20")),
      "s2" -> Seq(Seq("3.25", "x\"y"))))
    val rows = ExcelSource.read(spark, dir, "all")
      .orderBy($"sheet", $"row_idx")
      .select($"sheet", $"cells").collect()
      .map(r => (r.getString(0), r.getSeq[String](1)))
    assert(rows === Seq(
      ("s1", Seq("1.0", "a<b&c", "10.5")),
      ("s1", Seq("2.0", "plain", "20.0")),
      ("s2", Seq("3.25", "x\"y"))))
  }

  test("writeWorkbookCells emits t=\"b\"/t=\"e\" cells the reader renders as True/False/literals") {
    import spark.implicits._
    import graft.sources.Cell
    val dir = tmpDir("wb_boolerr")
    ExcelSource.writeWorkbookCells(s"$dir/typed.xlsx", Seq(
      "t" -> Seq(
        Seq(Cell.Bool(true), Cell.Bool(false), Cell.Text("20")),
        Seq(Cell.Err(0x07), Cell.Err(0x2A), Cell.Err(0x00)),
        Seq(Cell.Err(0x0F), Cell.Err(0x17), Cell.Err(0x1D), Cell.Err(0x24)))))
    val rows = ExcelSource.read(spark, dir, "all")
      .orderBy($"row_idx").select($"cells").as[Seq[String]].collect()
    assert(rows(0) === Seq("True", "False", "20.0"))
    assert(rows(1) === Seq("#DIV/0!", "#N/A", "#NULL!"))
    assert(rows(2) === Seq("#VALUE!", "#REF!", "#NAME?", "#NUM!"))
  }

  test("a folder containing legacy .xls fails loudly (xlsx-only contract)") {
    val dir = tmpDir("legacy_xls")
    writeXlsx(s"$dir/ok.xlsx")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/old book.XLS"),
      Array[Byte](0x01, 0x02))
    val e = intercept[IllegalArgumentException] {
      ExcelSource.read(spark, dir, "all")
    }
    assert(e.getMessage.contains(".xlsx only"))
    assert(e.getMessage.contains("old book.XLS"))
    // a direct single-file path and a glob must hit the same guard — not
    // silently return 0 rows because the xlsx glob filtered the file out
    val direct = intercept[IllegalArgumentException] {
      ExcelSource.read(spark, s"$dir/old book.XLS", "all")
    }
    assert(direct.getMessage.contains(".xlsx only"))
    val viaGlob = intercept[IllegalArgumentException] {
      ExcelSource.read(spark, s"$dir/*.XLS", "all")
    }
    assert(viaGlob.getMessage.contains(".xlsx only"))
  }

  test("DSv2 connector: spark.read.format(graft-excel) matches readAny, honors sheets option") {
    import spark.implicits._
    val dir = tmpDir("dsv2")
    writeXlsx(s"$dir/modern.xlsx")
    graft.sources.XlsSource.writeWorkbook(s"$dir/legacy.xls",
      Seq("old" -> Seq(Seq("7", "legacy row", "3.5"))))
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"file", $"sheet", $"row_idx", concat_ws("", $"cells").as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getString(3)))
      .toSet
    val viaDsv2 = spark.read.format("graft-excel").load(dir)
    assert(viaDsv2.schema === graft.sources.ExcelSource.Schema)
    assert(canon(viaDsv2) === canon(ExcelSource.readAny(spark, dir, "all")),
      "DSv2 scan and readAny must produce identical rows")
    val filtered = spark.read.format("graft-excel").option("sheets", "old").load(dir)
    assert(filtered.select($"sheet").distinct().collect().map(_.getString(0)).toSeq
      === Seq("old"))
    // one partition per workbook file
    assert(viaDsv2.rdd.getNumPartitions === 2)
  }

  test("readAny unions .xlsx and legacy .xls from one folder (reference *.xls* filter)") {
    import spark.implicits._
    val dir = tmpDir("mixed_formats")
    writeXlsx(s"$dir/modern.xlsx")
    graft.sources.XlsSource.writeWorkbook(s"$dir/legacy.xls",
      Seq("old" -> Seq(Seq("7", "legacy row", "3.5"))))
    val all = ExcelSource.readAny(spark, dir, "all")
    val sheetSet = all.select($"sheet").distinct().collect().map(_.getString(0)).toSet
    assert(sheetSet == Set("data", "extra", "old"))
    val legacyRow = all.filter($"sheet" === "old")
      .select($"cells").collect().map(_.getSeq[String](0))
    assert(legacyRow === Seq(Seq("7.0", "legacy row", "3.5")),
      "xls cells must render identically to xlsx (str(float) contract)")
  }

  test("zip-expansion cap trips during decompression (zip bomb defense)") {
    // a 4 MB all-zeros entry compresses to ~4 KB; with a 1 MB cap the
    // inflate must die at the limit, naming it
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    zos.putNextEntry(new ZipEntry("xl/workbook.xml"))
    zos.write(new Array[Byte](4 << 20))
    zos.closeEntry()
    zos.close()
    val e = intercept[IllegalArgumentException] {
      graft.sources.ExcelSource.readZip(bos.toByteArray, 1L << 20)
    }
    assert(e.getMessage.contains("zip-expansion limit"))
    assert(e.getMessage.contains("MaxInflatedBytes"))
  }

  test("DSv2 connector rejects a user-supplied schema that differs from the fixed one") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("dsv2_schema")
    writeXlsx(s"$dir/wb.xlsx")
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft-excel")
        .schema(StructType(Seq(StructField("other", StringType))))
        .load(dir)
    }
    assert(e.getMessage.contains("fixed schema"))
    // the EXACT fixed schema is accepted (DSv2 convention)
    val ok = spark.read.format("graft-excel")
      .schema(graft.sources.ExcelSource.Schema).load(dir)
    assert(ok.count() > 0)
  }

  test("writer keeps non-canonical numeric-looking text verbatim; canonical ints normalize") {
    import spark.implicits._
    val dir = tmpDir("wb_canonical")
    ExcelSource.writeWorkbook(s"$dir/c.xlsx", Seq(
      "s" -> Seq(Seq("00123", "+5", "1e2", "5.", ".5", "20", "-3.25"))))
    val cells = ExcelSource.read(spark, dir, "all")
      .orderBy($"row_idx").select($"cells").head().getSeq[String](0)
    // non-canonical literals are TEXT cells now — verbatim round-trip
    assert(cells.take(5) === Seq("00123", "+5", "1e2", "5.", ".5"))
    // canonical numerics still normalize through str(float) by design
    assert(cells.drop(5) === Seq("20.0", "-3.25"))
  }

  test("colIndex: A=0, Z=25, AA=26, AB27") {
    assert(ExcelSource.colIndex("A1") == 0)
    assert(ExcelSource.colIndex("Z9") == 25)
    assert(ExcelSource.colIndex("AA3") == 26)
    assert(ExcelSource.colIndex("AB12") == 27)
    // colRef is colIndex's inverse
    Seq(0, 25, 26, 27, 700, 701, 702).foreach { i =>
      assert(ExcelSource.colIndex(ExcelSource.colRef(i) + "1") == i)
    }
  }

  test("EP1 excelToCsv: sanitized pipe-CSV per sheet with normalized names") {
    val root = tmpDir("ep1")
    val in = s"$root/in"; val out = s"$root/out"
    new java.io.File(in).mkdirs()
    writeXlsx(s"$in/My Book-2024.xlsx")
    graft.sources.XlsSource.writeWorkbook(s"$in/Legacy-2024.xls",
      Seq("ldata" -> Seq(Seq("9", "x,y", "1.5"))))
    val res = PipelineRunner.run(spark, PipelineRunner.ExcelToCsv(in, out))
    assert(res.isRight, s"step failed: $res")
    val dataCsv = new java.io.File(s"$out/MyBook2024_data.csv")
    assert(dataCsv.exists(), "A4-normalized prefix + sheet name")
    val lines = spark.read.text(dataCsv.getAbsolutePath)
      .collect().map(_.getString(0)).toSeq.sorted
    assert(lines.contains("1.0|alpha one|10.5"), s"sanitize must strip the comma: $lines")
    assert(lines.contains("2.0|betatwo|20.0"), "quote stripped")
    assert(lines.contains("4.0|deltax|40.0"), "non-ascii dropped")
    // the legacy workbook flows through the same sanitize + pipe-CSV path
    val legacyCsv = new java.io.File(s"$out/Legacy2024_ldata.csv")
    assert(legacyCsv.exists(), "xls workbook must be picked up by EP1")
    val llines = spark.read.text(legacyCsv.getAbsolutePath).collect().map(_.getString(0))
    assert(llines.toSeq == Seq("9.0|xy|1.5"))
  }

  test("EP1 launches O(1) jobs for a many-sheet folder, not one per sheet") {
    val root = tmpDir("ep1jobs")
    val in = s"$root/in"; val out = s"$root/out"
    new java.io.File(in).mkdirs()
    for (w <- 0 until 6)
      ExcelSource.writeWorkbook(s"$in/Book$w.xlsx", Seq(
        "alpha" -> Seq(Seq(s"$w", "a", "1.5")),
        "beta" -> Seq(Seq(s"$w", "b", "2.5"))))
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val res = PipelineRunner.run(spark, PipelineRunner.ExcelToCsv(in, out))
    assert(res.isRight, s"step failed: $res")
    val jobs = tracker.getJobIdsForGroup(null).length - before
    // one dynamic-partitioned write over the parsed rows (the workbook list
    // comes from a listing); the old per-sheet loop would need ≥ 12 write
    // jobs alone for 12 sheets
    assert(jobs <= 8, s"EP1 must be a constant number of jobs, saw $jobs for 12 sheets")
    val csvs = new java.io.File(out).listFiles().map(_.getName).filter(_.endsWith(".csv"))
    assert(csvs.length == 12, s"one csv dir per sheet: ${csvs.toSeq.sorted}")
    assert(csvs.contains("Book3_beta.csv"))
    // staging namespace must not leak into the output contract
    assert(!new java.io.File(s"$out/_ep1_staging").exists())
  }

  test("EP1 → EP2: csv staged-load upserts into a parquet table; errors are values") {
    import spark.implicits._
    val root = tmpDir("ep2")
    val table = s"$root/table"
    Seq((1.0, "old", 1.5), (9.0, "keep", 9.5)).toDF("k", "s", "v")
      .write.parquet(table)
    // stage a pipe csv matching the table's schema
    val csvDir = s"$root/csv"
    CsvIO.writePipe(Seq((1.0, "new", 2.5), (4.0, "ins", 4.5)).toDF("k", "s", "v"), csvDir)
    val res = PipelineRunner.run(spark,
      PipelineRunner.LoadTable(csvDir, table, "upsert", Seq("k")))
    assert(res.isRight, s"step failed: $res")
    val got = spark.read.parquet(table).collect()
      .map(r => (r.getDouble(0), r.getString(1), r.getDouble(2))).toSet
    assert(got == Set((1.0, "new", 2.5), (4.0, "ins", 4.5), (9.0, "keep", 9.5)))
    // unknown verb → Left, not an exception (A14)
    val bad = PipelineRunner.run(spark, PipelineRunner.LoadTable(csvDir, table, "truncate"))
    assert(bad.isLeft)
    assert(bad.swap.toOption.get.message.startsWith("Error -"))
  }

  test("EP1 → EP2: integer cells upsert into a bigint-keyed table") {
    import spark.implicits._
    val root = tmpDir("ep2-bigint")
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    ExcelSource.writeWorkbook(s"$in/keys.xlsx",
      Seq("s1" -> Seq(Seq("1", "x", "1.5"), Seq("2", "y", "2.5"))))
    assert(PipelineRunner.run(spark,
      PipelineRunner.ExcelToCsv(in, s"$root/csv")).isRight)
    val table = s"$root/table"
    Seq((1L, "old", 0.5), (9L, "keep", 9.5)).toDF("k", "v", "p").write.parquet(table)
    val res = PipelineRunner.run(spark,
      PipelineRunner.LoadTable(s"$root/csv/*.csv", table, "upsert", Seq("k")))
    assert(res.isRight, s"step failed: $res")
    val got = spark.read.parquet(table).collect()
      .map(r => s"${r.get(0)}|${r.getString(1)}").toSet
    assert(got == Set("1|x", "2|y", "9|keep"))
  }

  test("EP1: workbook names whose prefixes collide fail the step loudly") {
    val root = tmpDir("ep1-collide")
    val in = s"$root/in"
    new java.io.File(in).mkdirs()
    Seq("a-b.xlsx", "ab.xlsx").foreach(n =>
      ExcelSource.writeWorkbook(s"$in/$n", Seq("s" -> Seq(Seq("1", "x")))))
    val res = PipelineRunner.run(spark, PipelineRunner.ExcelToCsv(in, s"$root/csv"))
    assert(res.left.exists(_.message.contains("prefixes collide")), s"got $res")
  }

  test("EP3 after an EP2 upsert swap reads the table's new files") {
    import spark.implicits._
    val root = tmpDir("ep3-refresh")
    val tables = s"$root/tables"
    Seq((0L, "x")).toDF("id", "name").write.parquet(s"$tables/region.parquet")
    Seq("customer", "part", "orders", "events", "documents", "embeddings")
      .foreach(n => Seq((0L, "x")).toDF("id", "name").write.parquet(s"$tables/$n.parquet"))
    Seq((1L, 0L), (2L, 1L)).toDF("s_suppkey", "s_nationkey")
      .write.parquet(s"$tables/supplier.parquet")
    Seq((0L, "N0"), (1L, "N1")).toDF("n_nationkey", "n_name")
      .write.parquet(s"$tables/nation.parquet")
    Seq((1.0, 1L, 10.0, 0.0)).toDF("k", "l_suppkey", "l_extendedprice", "l_discount")
      .write.parquet(s"$tables/lineitem.parquet")
    def revenue() = {
      val r = PipelineRunner.run(spark,
        PipelineRunner.CallQuery(tables, "revenue_by_nation"))
      assert(r.isRight, s"EP3 failed: $r")
      graft.ops.QueryCatalog.run(spark, tables, "revenue_by_nation").collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSet
    }
    assert(revenue() == Set(("N0", 10.0)))
    val csv = s"$root/csv"
    CsvIO.writePipe(Seq((2.0, 2L, 5.0, 0.0)).toDF("k", "s", "p", "d"), csv)
    val up = PipelineRunner.run(spark, PipelineRunner.LoadTable(csv,
      s"$tables/lineitem.parquet", "upsert", Seq("k")))
    assert(up.isRight, s"EP2 failed: $up")
    assert(revenue() == Set(("N0", 10.0), ("N1", 5.0)))
  }
}
