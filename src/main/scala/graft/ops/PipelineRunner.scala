package graft.ops

import java.time.LocalDate

import graft.sources.ExcelSource
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Four-verb pipeline runner (A13) + error-as-value with step timing
  * (A14) — the engine's replacement for the reference's HTTP router
  * (`/root/reference/adffunction/__init__.py:231-307`): `step` param →
  * `exceltocsv` | `blobtopostgres` | `callstoredproc` | `cleanup`, JSON
  * body → typed config; `"Error -..."` substring protocol → a real ADT
  * (`Either[StepError, StepReport]`), wall-time carried in the report
  * like the reference's `t2-t1` suffix (`__init__.py:106-111`).
  */
object PipelineRunner {

  sealed trait StepConfig
  /** EP1 (`__init__.py:253-267`): Excel folder → sanitized CSV folder. */
  final case class ExcelToCsv(fromDir: String, toDir: String,
    sheetList: String = "all") extends StepConfig
  /** EP2 (`__init__.py:237-251`): pipe-CSV folder → table dir, insert or
    * upsert (`UpdateType` branch at `__init__.py:166-172`).
    */
  final case class LoadTable(fromDir: String, targetTable: String,
    updateType: String, keys: Seq[String] = Seq.empty) extends StepConfig
  /** EP3 (`__init__.py:282-293`): named registered query. */
  final case class CallQuery(tablesDir: String, name: String) extends StepConfig
  /** 4th verb (`__init__.py:269-280`): retention sweep + work-dir reset. */
  final case class Cleanup(workDirs: Seq[String], sweepDir: Option[String],
    linkedService: String = "ls", dataFactory: String = "df",
    dayDiff: Int = -5, today: LocalDate = LocalDate.now()) extends StepConfig

  final case class StepError(step: String, message: String)
  final case class StepReport(step: String, durationMs: Long, detail: String)

  def run(spark: SparkSession, config: StepConfig): Either[StepError, StepReport] = {
    val name = config.getClass.getSimpleName
    val t0 = System.nanoTime()
    try {
      val detail = config match {
        case c: ExcelToCsv => excelToCsv(spark, c)
        case c: LoadTable => loadTable(spark, c)
        case c: CallQuery =>
          val n = QueryCatalog.run(spark, c.tablesDir, c.name).count()
          s"query ${c.name} returned $n rows"
        case c: Cleanup => cleanup(spark, c)
      }
      Right(StepReport(name, (System.nanoTime() - t0) / 1000000L, detail))
    } catch {
      // A14: every failure becomes a value (`__init__.py:106-113` catches
      // everything into an "Error -" string; we keep the type).
      case e: Throwable =>
        Left(StepError(name, Option(e.getMessage).getOrElse(e.getClass.getName)))
    }
  }

  /** EP1: sanitize every cell (A3) and write one pipe-CSV per sheet named
    * `<normalized-prefix>_<sheet>.csv` (A4/A5, `HelperFunction.py:30`).
    *
    * Scale shape: ONE Spark job for the whole folder, not one per sheet —
    * rows are hash-clustered on (prefix, sheet) and sorted by row_idx,
    * then a single dynamic-partitioned text write fans them out (one
    * ordered part file per sheet, since the required partition ordering is
    * already satisfied no extra sort is inserted), and the driver renames
    * each partition dir onto the `<prefix>_<sheet>.csv` contract. The old
    * per-sheet loop launched O(sheets) sequential jobs — driver-bound at
    * 100× workbook count (measured: 30 workbooks × 2 sheets = 183 jobs /
    * 19.9 s loop vs 5 jobs / 7.0 s single-job, see COVERAGE.md).
    */
  private def excelToCsv(spark: SparkSession, c: ExcelToCsv): String = {
    // readAny = the reference's `*.xls*` blob filter: modern .xlsx and
    // legacy BIFF8 .xls side by side in the input folder.
    val rows = ExcelSource.readAny(spark, c.fromDir, c.sheetList)
    val ext = "\\.[^.]*$"
    // The alphanumeric-stripped prefix (A4) can collide across distinct
    // workbooks ("a-b.xlsx" vs "ab.xlsx") — the reference would silently
    // overwrite one workbook's CSV with the other's; fail loudly instead
    // (surfaces through the runner's error-as-value channel). Checked on
    // a listing of the input set, so no workbook is parsed twice.
    val collisions = ExcelSource.anyInputNames(spark, c.fromDir)
      .groupBy(n => Sanitize.fileNamePrefixStr(n.replaceAll(ext, "")))
      .filter(_._2.length > 1)
    if (collisions.nonEmpty)
      throw new IllegalArgumentException(
        s"Error - workbook filename prefixes collide after normalization: $collisions")
    // The raw .text() writer does no quoting, so the interchange separator
    // must never survive inside a cell — translate '|' to space after the
    // sanitize chain (the reference strips its own CSV-active characters
    // the same way, HelperFunction.py:36-41). binaryFile paths are URI-ish
    // but may hold raw spaces — the basename is taken textually.
    val staging = s"${c.toDir}/_ep1_staging"
    rows
      .select(Sanitize.fileNamePrefix(
          regexp_replace(substring_index(col("file"), "/", -1), ext, "")).as("prefix"),
        col("sheet"), col("row_idx"),
        concat_ws(CsvIO.Sep,
          transform(col("cells"),
            cell => translate(Sanitize.cell(cell), CsvIO.Sep, " "))).as("line"))
      .repartition(col("prefix"), col("sheet"))
      .sortWithinPartitions(col("prefix"), col("sheet"), col("row_idx"))
      .select(col("prefix"), col("sheet"), col("line"))
      .write.mode("overwrite").partitionBy("prefix", "sheet").text(staging)
    // FS renames: staging/prefix=<p>/sheet=<esc> → toDir/<p>_<sheet>.csv.
    // Pure namespace operations — no data moves, O(sheets) metadata calls.
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    val fs = stagingPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val moved = fs.listStatus(stagingPath).filter(_.isDirectory).flatMap { pDir =>
      val prefix = unescapePathName(pDir.getPath.getName.stripPrefix("prefix="))
      fs.listStatus(pDir.getPath).filter(_.isDirectory).map { sDir =>
        val sheet = unescapePathName(sDir.getPath.getName.stripPrefix("sheet="))
        val dest = new org.apache.hadoop.fs.Path(s"${c.toDir}/${prefix}_$sheet.csv")
        if (fs.exists(dest)) fs.delete(dest, true)
        if (!fs.rename(sDir.getPath, dest))
          throw new java.io.IOException(
            s"Error - EP1 rename failed: ${sDir.getPath} -> $dest")
        1
      }
    }.sum
    fs.delete(stagingPath, true)
    s"$moved sheet csv(s) written"
  }

  /** Inverse of the writer's partition-dir escaping (`%XX` hex for the
    * FS-hostile ASCII chars; everything else passes through verbatim).
    */
  private def unescapePathName(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(ch); i += 1 }
    }
    sb.toString
  }

  /** EP2: schema-borrowed pipe-CSV staged load (B4) then insert (A11) or
    * upsert (B3) into a parquet table dir.
    */
  private def loadTable(spark: SparkSession, c: LoadTable): String = {
    // A table stranded at ._old by a crash inside a previous upsert's
    // rename window must heal BEFORE the schema-borrow read, or every
    // retry dies at read time and never reaches Upsert.run's preamble.
    Upsert.recover(spark, c.targetTable)
    val target = graft.Tables.readDir(spark, c.targetTable)
    val staged = CsvIO.readBorrowed(spark, c.fromDir, target)
    c.updateType match {
      case "insert" =>
        Upsert.append(staged, c.targetTable)
        s"appended into ${c.targetTable}"
      case "upsert" =>
        Upsert.run(spark, c.targetTable, staged, c.keys)
        s"upserted into ${c.targetTable} on (${c.keys.mkString(",")})"
      case other =>
        throw new IllegalArgumentException(s"Error - unknown UpdateType '$other'")
    }
  }

  private def cleanup(spark: SparkSession, c: Cleanup): String = {
    val swept = c.sweepDir.map { dir =>
      Retention.sweep(FileOps.listFiles(spark, dir), "name",
        c.linkedService, c.dataFactory, c.dayDiff, c.today)(
        name => { FileOps.deletePrefix(spark, s"$dir/$name"); () })
    }.getOrElse(Seq.empty)
    FileOps.resetWorkDirs(spark, c.workDirs)
    s"swept ${swept.length} dir(s), reset ${c.workDirs.length} work dir(s)"
  }
}
