package graft.sources

import java.io.ByteArrayInputStream
import java.util.zip.ZipInputStream

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Excel (.xlsx) multi-sheet source (A1/A2) — re-expresses the reference's
  * `xls2csv` scan (`/root/reference/SharedCode/HelperFunction.py:9-43`)
  * Spark-first: files are distributed to executors via the `binaryFile`
  * source and parsed per-partition with JDK-only primitives (xlsx = zip +
  * XML; `java.util.zip` + StAX — no external libs). One output row per
  * sheet row: (file, sheet, row_idx, cells array).
  *
  * Sheet selection mirrors A2 exactly: `"all"` → every sheet, else a
  * comma-split name list (`HelperFunction.py:22-25`).
  *
  * Type behavior mirrors the reference's xlrd semantics (§1.2): every
  * cell surfaces as a string; numeric cells print like Python's
  * `str(float)` — `1.0`, not `1` (`Double.toString` matches for the
  * ranges Excel stores) — pinned in ExcelSourceSpec.
  *
  * Scale: one task per file (Excel workbooks are small by construction —
  * the format itself caps out far below partition size); a folder of
  * thousands of workbooks parallelizes per-file, which is exactly the
  * reference's unit of work (one blob at a time, `__init__.py:91-104`).
  */
object ExcelSource {

  val Schema: StructType = StructType(Seq(
    StructField("file", StringType),
    StructField("sheet", StringType),
    StructField("row_idx", IntegerType),
    StructField("cells", ArrayType(StringType))))

  /** Workbook ingestion size guard. Both Excel formats require the whole
    * container in memory (the zip/OLE2 central directory lives at the END
    * of the file), so a pathological workbook must fail LOUDLY with the
    * limit named — at plan time on the driver where possible — rather
    * than as an executor OOM mid-scan. Real workbooks sit orders of
    * magnitude below this (Excel itself caps a sheet at ~1M rows).
    */
  val MaxWorkbookBytes: Long = 256L << 20

  /** Zip-expansion ceiling for one workbook (decompressed, all entries) —
    * a crafted tiny .xlsx can inflate without bound (zip bomb); cap it
    * with the limit named instead of exhausting the executor heap.
    */
  val MaxInflatedBytes: Long = 1L << 30

  private[graft] def guardSize(file: String, size: Long): Unit =
    if (size > MaxWorkbookBytes)
      throw new IllegalArgumentException(
        s"Error - workbook exceeds the ${MaxWorkbookBytes >> 20} MiB ingestion " +
          s"limit (ExcelSource.MaxWorkbookBytes): $file is $size bytes. " +
          "Split the workbook, or convert it to a splittable format.")

  /** Driver-side pre-scan: every matching input file is size-checked
    * before any executor materializes its bytes.
    */
  private[sources] def guardInputSizes(spark: SparkSession, path: String,
      ext: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolveInputFiles(fs, p)
      .filter(_.getPath.getName.toLowerCase.endsWith(ext))
      .foreach(st => guardSize(st.getPath.toString, st.getLen))
  }

  def read(spark: SparkSession, path: String, sheets: String = "all"): DataFrame = {
    rejectLegacyXls(spark, path)
    readXlsx(spark, path, sheets)
  }

  /** The reference's actual acceptance (`*.xls*`, case-insensitive): both
    * modern `.xlsx` (this object) and legacy BIFF8 `.xls` ([[XlsSource]])
    * from one folder, unioned into the shared row schema.
    */
  def readAny(spark: SparkSession, path: String, sheets: String = "all"): DataFrame =
    readXlsx(spark, path, sheets).unionByName(XlsSource.read(spark, path, sheets))

  /** Names of the workbooks [[readAny]] parses under `path`: its `.xlsx`
    * and `.xls` filters over the same listing, minus the hidden `_`/`.`
    * names Spark's file listing skips. Driver-side, no Spark job.
    */
  def anyInputNames(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    resolveInputFiles(fs, p).map(_.getPath.getName).filter { n =>
      val l = n.toLowerCase
      (l.endsWith(".xlsx") || l.endsWith(".xls")) &&
        !n.startsWith("_") && !n.startsWith(".")
    }
  }

  private def readXlsx(spark: SparkSession, path: String, sheets: String): DataFrame = {
    guardInputSizes(spark, path, ".xlsx")
    val bin = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.[xX][lL][sS][xX]")
      .load(path)
      .select(col("path"), col("content"))
    val enc = org.apache.spark.sql.Encoders.row(Schema)
    bin.flatMap { r =>
      val file = r.getString(0)
      val bytes = r.getAs[Array[Byte]](1)
      parseWorkbook(bytes, sheets).map { case (sheet, idx, cells) =>
        Row(file, sheet, idx, cells)
      }
    }(enc)
  }

  /** `read` is the xlsx-only path; a folder that also contains legacy
    * `.xls` fails fast with a pointer to the right API instead of
    * silently skipping files the glob filter would drop (the reference
    * accepts both via xlrd, `/root/reference/adffunction/__init__.py:
    * 97-101`, `SharedCode/HelperFunction.py:20` — that behavior lives in
    * [[readAny]] / [[XlsSource]]).
    */
  /** Resolve a literal path, glob, or directory to its leaf files, the way
    * Spark's file sources do: a direct file stands alone, a glob expands
    * via `globStatus`, matched directories list recursively. Shared by the
    * legacy-`.xls` guard and the DSv2 connector so both always see the
    * same file set the reader would consider.
    */
  private[sources] def resolveInputFiles(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val roots =
      if (fs.exists(p)) Seq(fs.getFileStatus(p))
      else Option(fs.globStatus(p)).map(_.toSeq).getOrElse(Seq.empty)
    roots.flatMap { root =>
      if (root.isDirectory) {
        val buf = mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
        val it = fs.listFiles(root.getPath, true)
        while (it.hasNext) {
          val st = it.next()
          if (!st.isDirectory) buf += st
        }
        buf.toSeq
      } else Seq(root)
    }
  }

  private def rejectLegacyXls(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy = resolveInputFiles(fs, p).map(_.getPath.getName)
      .filter(_.toLowerCase.endsWith(".xls"))
    if (legacy.nonEmpty) throw new IllegalArgumentException(
      s"ExcelSource.read parses .xlsx only — found legacy .xls file(s) in $path: " +
        s"${legacy.mkString(", ")}. Use ExcelSource.readAny (mixed folders) or " +
        "XlsSource.read (BIFF8 .xls) to read them.")
  }

  private def xmlEscape(s: String): String =
    s.flatMap { case '&' => "&amp;"; case '<' => "&lt;"; case '>' => "&gt;"
                case '"' => "&quot;"; case c => c.toString }

  /** Writer-side numeric-cell test: only CANONICAL plain decimals count —
    * optional minus, no leading zeros, no exponent, no bare '.'/trailing
    * '.'. Non-canonical numeric-looking text (`"00123"`, `"+5"`, `"1e2"`)
    * stays a text cell and round-trips verbatim; canonical integers are
    * still normalized to `str(float)` by design (`"20"` reads back as
    * `"20.0"`), mirroring what a real workbook's numeric cell does.
    */
  private[graft] def isNumericText(v: String): Boolean =
    v.matches("-?(0|[1-9]\\d*)(\\.\\d+)?") && v.toDoubleOption.isDefined

  /** Minimal deterministic xlsx writer (fixture/sink): one workbook with
    * the given (sheetName, rows-of-cells). Cells whose text parses as a
    * number are written as numeric cells (so a read round-trips through
    * the same str(float) rendering as real workbooks); everything else is
    * an inline string. No shared-string table — inline strings are valid
    * OOXML and keep the writer order-independent and tiny.
    */
  def writeWorkbook(path: String, sheets: Seq[(String, Seq[Seq[String]])]): Unit =
    writeWorkbookCells(path, sheets.map { case (n, rows) =>
      n -> rows.map(_.map(Cell.Text(_): Cell))
    })

  /** Typed-cell variant of [[writeWorkbook]]: bool cells as `t="b"`,
    * error cells as `t="e"` holding the xlrd-compatible literal — so the
    * reader's bool/error rendering contract is exercised by real written
    * workbooks, not just crafted XML (see [[Cell]]).
    */
  def writeWorkbookCells(path: String, sheets: Seq[(String, Seq[Seq[Cell]])]): Unit = {
    val ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val rns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    def sheetXml(rows: Seq[Seq[Cell]]): String = {
      val body = rows.zipWithIndex.map { case (cells, ri) =>
        val cellXml = cells.zipWithIndex.map { case (cell, ci) =>
          val ref = s"${colRef(ci)}${ri + 1}"
          cell match {
            case Cell.Text(v) if isNumericText(v) =>
              s"""<c r="$ref"><v>${xmlEscape(v)}</v></c>"""
            case Cell.Text(v) =>
              s"""<c r="$ref" t="inlineStr"><is><t>${xmlEscape(v)}</t></is></c>"""
            case Cell.Bool(b) =>
              s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
            case Cell.Err(code) =>
              s"""<c r="$ref" t="e"><v>${xmlEscape(Cell.ErrorLiteral(code))}</v></c>"""
          }
        }.mkString
        s"""<row r="${ri + 1}">$cellXml</row>"""
      }.mkString
      s"""<?xml version="1.0" encoding="UTF-8"?><worksheet xmlns="$ns"><sheetData>$body</sheetData></worksheet>"""
    }
    val sheetTags = sheets.zipWithIndex.map { case ((name, _), i) =>
      s"""<sheet name="${xmlEscape(name)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>"""
    }.mkString
    val workbook =
      s"""<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="$ns" xmlns:r="$rns"><sheets>$sheetTags</sheets></workbook>"""
    val relTags = sheets.indices.map { i =>
      s"""<Relationship Id="rId${i + 1}" Type="$rns/worksheet" Target="worksheets/sheet${i + 1}.xml"/>"""
    }.mkString
    val rels =
      s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">$relTags</Relationships>"""
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    val sheetOverrides = sheets.indices.map { i =>
      s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>"""
    }.mkString
    val contentTypes =
      s"""<?xml version="1.0" encoding="UTF-8"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"><Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/><Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>$sheetOverrides</Types>"""
    val rootRels =
      s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="$rns/officeDocument" Target="xl/workbook.xml"/></Relationships>"""
    try {
      // full OPC part set so external consumers (Excel, openpyxl) accept
      // the package, not just the in-repo reader
      put("[Content_Types].xml", contentTypes)
      put("_rels/.rels", rootRels)
      put("xl/workbook.xml", workbook)
      put("xl/_rels/workbook.xml.rels", rels)
      sheets.zipWithIndex.foreach { case ((_, rows), i) =>
        put(s"xl/worksheets/sheet${i + 1}.xml", sheetXml(rows))
      }
    } finally zos.close()
  }

  /** 0-based column index → Excel letters (0 → A, 26 → AA). */
  def colRef(idx: Int): String = {
    var i = idx + 1
    val sb = new StringBuilder
    while (i > 0) { sb.insert(0, ('A' + (i - 1) % 26).toChar); i = (i - 1) / 26 }
    sb.toString
  }

  /** Sheet-row iterator over one workbook's bytes. */
  def parseWorkbook(bytes: Array[Byte], sheets: String): Seq[(String, Int, Seq[String])] = {
    val entries = readZip(bytes)
    val shared = entries.get("xl/sharedStrings.xml").map(parseSharedStrings).getOrElse(Vector.empty)
    val rels = entries.get("xl/_rels/workbook.xml.rels").map(parseRels).getOrElse(Map.empty)
    val sheetDefs = entries.get("xl/workbook.xml").map(parseSheetDefs).getOrElse(Seq.empty)
    val wanted: Seq[(String, String)] = // (name, zip path)
      sheetDefs.flatMap { case (name, rid) =>
        rels.get(rid).map(t => name -> ("xl/" + t.stripPrefix("/xl/").stripPrefix("xl/")))
      }
    val selected =
      if (sheets == "all") wanted
      else {
        val want = sheets.split(",").map(_.trim).toSet
        wanted.filter { case (n, _) => want.contains(n) }
      }
    selected.flatMap { case (name, zipPath) =>
      entries.get(zipPath).toSeq.flatMap { sheetXml =>
        parseSheet(sheetXml, shared).zipWithIndex.map { case (cells, i) => (name, i, cells) }
      }
    }
  }

  private def readZip(bytes: Array[Byte]): Map[String, Array[Byte]] =
    readZip(bytes, MaxInflatedBytes)

  /** Inflation cap injectable for tests (crafting a real >1 GiB bomb in a
    * spec would be wasteful; the guard logic is what needs pinning).
    */
  private[graft] def readZip(bytes: Array[Byte], inflateCap: Long): Map[String, Array[Byte]] = {
    val zin = new ZipInputStream(new ByteArrayInputStream(bytes))
    val out = mutable.Map[String, Array[Byte]]()
    var total = 0L
    val chunk = new Array[Byte](64 * 1024)
    var e = zin.getNextEntry
    while (e != null) {
      if (!e.isDirectory) {
        // chunked inflate so the cap trips DURING decompression — a zip
        // bomb must die at the limit, not after one readAllBytes() OOMs
        val buf = new java.io.ByteArrayOutputStream()
        var n = zin.read(chunk)
        while (n > 0) {
          total += n
          if (total > inflateCap)
            throw new IllegalArgumentException(
              s"Error - workbook inflates past the ${inflateCap >> 20} MiB " +
                "zip-expansion limit (ExcelSource.MaxInflatedBytes) — " +
                "possible zip bomb, refusing to continue")
          buf.write(chunk, 0, n)
          n = zin.read(chunk)
        }
        out(e.getName) = buf.toByteArray
      }
      e = zin.getNextEntry
    }
    out.toMap
  }

  private def xmlReader(bytes: Array[Byte]) = {
    val f = javax.xml.stream.XMLInputFactory.newInstance()
    f.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    f.createXMLStreamReader(new ByteArrayInputStream(bytes), "UTF-8")
  }

  /** workbook.xml: <sheet name=".." r:id="rIdN"/> in declared order. */
  private def parseSheetDefs(bytes: Array[Byte]): Seq[(String, String)] = {
    val r = xmlReader(bytes)
    val out = mutable.ArrayBuffer[(String, String)]()
    while (r.hasNext) {
      if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "sheet") {
        var name: String = null; var rid: String = null
        (0 until r.getAttributeCount).foreach { i =>
          r.getAttributeLocalName(i) match {
            case "name" => name = r.getAttributeValue(i)
            case "id" => rid = r.getAttributeValue(i)
            case _ =>
          }
        }
        if (name != null && rid != null) out += (name -> rid)
      }
    }
    out.toSeq
  }

  /** workbook.xml.rels: rId → Target (worksheets/sheetN.xml). */
  private def parseRels(bytes: Array[Byte]): Map[String, String] = {
    val r = xmlReader(bytes)
    val out = mutable.Map[String, String]()
    while (r.hasNext) {
      if (r.next() == javax.xml.stream.XMLStreamConstants.START_ELEMENT &&
          r.getLocalName == "Relationship") {
        var id: String = null; var target: String = null
        (0 until r.getAttributeCount).foreach { i =>
          r.getAttributeLocalName(i) match {
            case "Id" => id = r.getAttributeValue(i)
            case "Target" => target = r.getAttributeValue(i)
            case _ =>
          }
        }
        if (id != null && target != null) out(id) = target
      }
    }
    out.toMap
  }

  /** sharedStrings.xml: ordered <si><t>..</t></si> values. */
  private def parseSharedStrings(bytes: Array[Byte]): Vector[String] = {
    val r = xmlReader(bytes)
    val out = mutable.ArrayBuffer[String]()
    val sb = new StringBuilder
    var inSi = false
    var inT = false
    var inRPh = false
    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "si" => inSi = true; sb.clear()
            // phonetic (furigana) runs are annotations, not string content
            case "rPh" => inRPh = true
            case "t" if inSi && !inRPh => inT = true
            case _ =>
          }
        case javax.xml.stream.XMLStreamConstants.CHARACTERS if inT =>
          sb.append(r.getText)
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "t" => inT = false
            case "rPh" => inRPh = false
            case "si" => inSi = false; out += sb.toString
            case _ =>
          }
        case _ =>
      }
    }
    out.toVector
  }

  /** "B3" → 0-based column index (1 for B). */
  def colIndex(ref: String): Int = {
    val letters = ref.takeWhile(_.isLetter)
    letters.foldLeft(0)((a, c) => a * 26 + (c - 'A' + 1)) - 1
  }

  /** Numeric cell text → the reference's `str(float)` rendering (xlrd
    * yields floats; Python never uses scientific notation in
    * [1e-4, 1e16)). Non-numeric content (formula-error cells like
    * `#DIV/0!`, ISO date strings from `t="d"`) passes through raw instead
    * of crashing the task. Magnitudes outside Python's plain-notation
    * range fall back to Java scientific notation (approximate parity).
    */
  private[sources] def renderNumeric(v: String): String = {
    val trimmed = v.trim
    val d = try trimmed.toDouble catch { case _: NumberFormatException => return trimmed }
    renderDouble(d)
  }

  /** The same str(float) contract for an already-decoded double (the
    * BIFF path in [[XlsSource]] decodes NUMBER/RK records straight to
    * doubles, no text intermediary).
    */
  private[graft] def renderDouble(d: Double): String = {
    if (d.isInfinite || d.isNaN) return d.toString
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0" // Python str(-0.0)
    val abs = math.abs(d)
    if (d == d.floor && abs < 1e16)
      java.math.BigDecimal.valueOf(d).toBigInteger.toString + ".0"
    else if (abs >= 1e-4 && abs < 1e16)
      java.math.BigDecimal.valueOf(d).stripTrailingZeros.toPlainString
    else d.toString
  }

  /** worksheet XML → dense rows of string cells (gaps = ""). Cell content
    * accumulates across `<v>`/`<t>` segments and commits at `</c>`, so
    * rich-text inline strings (`<is><r><t>Hello </t></r><r><t>World</t>
    * </r></is>`) concatenate their runs instead of keeping only the last,
    * and empty/self-closed cells commit "".
    */
  private def parseSheet(bytes: Array[Byte], shared: Vector[String]): Seq[Seq[String]] = {
    val r = xmlReader(bytes)
    val rows = mutable.ArrayBuffer[Seq[String]]()
    var cells: mutable.ArrayBuffer[String] = null
    var cellCol = -1
    var cellType = ""
    var inCell = false
    var inV = false
    var inIsT = false
    var inRPh = false
    val v = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case javax.xml.stream.XMLStreamConstants.START_ELEMENT =>
          r.getLocalName match {
            case "row" =>
              // Excel omits blank rows from the XML but numbers the rest
              // via r="N"; pad the gap with empty rows so row indices stay
              // positionally aligned (xlrd iterates every row to nrows).
              val declared = (0 until r.getAttributeCount)
                .find(i => r.getAttributeLocalName(i) == "r")
                .map(i => r.getAttributeValue(i).trim.toInt - 1)
              declared.foreach { d => while (rows.length < d) rows += Seq.empty }
              cells = mutable.ArrayBuffer[String]()
            case "c" =>
              cellType = ""
              cellCol = cells.length
              inCell = true
              v.clear()
              (0 until r.getAttributeCount).foreach { i =>
                r.getAttributeLocalName(i) match {
                  case "r" => cellCol = colIndex(r.getAttributeValue(i))
                  case "t" => cellType = r.getAttributeValue(i)
                  case _ =>
                }
              }
            case "v" if inCell => inV = true
            // phonetic (furigana) runs are annotations, not cell content
            case "rPh" => inRPh = true
            case "t" if inCell && !inRPh => inIsT = true
            case _ =>
          }
        case javax.xml.stream.XMLStreamConstants.CHARACTERS =>
          if (inV || inIsT) v.append(r.getText)
        case javax.xml.stream.XMLStreamConstants.END_ELEMENT =>
          r.getLocalName match {
            case "v" => inV = false
            case "t" => inIsT = false
            case "rPh" => inRPh = false
            case "c" if inCell =>
              val raw = v.toString
              val value = cellType match {
                case "s" => raw.trim.toIntOption.flatMap(shared.lift).getOrElse("")
                case "str" | "inlineStr" => raw
                case "b" => if (raw.trim == "1") "True" else "False" // xlrd bool str()
                case "e" | "d" => raw // formula error / ISO date: raw text
                case _ if raw.trim.isEmpty => "" // empty or self-closed cell
                case _ => renderNumeric(raw)
              }
              while (cells.length < cellCol) cells += ""
              if (cells.length == cellCol) cells += value else cells(cellCol) = value
              inCell = false
            case "row" => rows += cells.toSeq
            case _ =>
          }
        case _ =>
      }
    }
    rows.toSeq
  }
}
