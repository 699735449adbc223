package perfbench

import java.io.File
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.ops.{FileOps, PipelineRunner, QueryCatalog}
import graft.ops.PipelineRunner.{CallQuery, Cleanup, ExcelToCsv, LoadTable}
import graft.sources.{ExcelSource, XlsSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The reference's four-step flow, batch after batch: EP1 Excel → sanitized
  * pipe-CSV, EP2 upsert into a parquet table, EP3 a registered query, then
  * cleanup (archive the batch input, retention sweep).
  *
  * The upsert rewrites the whole table, so its cost grows with the table.
  * Every batch therefore starts from the same base table: after its checks
  * the table is restored, untimed, and the median batch sees the same table
  * size in every run.
  */
object EtlWorkload {
  val Sheets = 2
  /** Input sizes: workbooks per batch (even indices .xlsx, odd .xls), rows
    * per sheet, rows in the base table.
    */
  final case class Size(workbooks: Int, rowsPerSheet: Int, baseRows: Int) {
    def rowsPerBatch: Int = workbooks * Sheets * rowsPerSheet
  }
  val Full: Size = Size(workbooks = 8, rowsPerSheet = 400, baseRows = 30000)
  val Today: LocalDate = LocalDate.of(2024, 6, 30)
  val DayDiff = -5
  private val ArchiveAt = LocalDateTime.of(2024, 6, 30, 12, 0)
  private val Writes = Seq("ep1", "ep2", "cleanup")
  private val Reads = Seq("ep3")

  def start(ctx: Ctx, size: Size = Full): Part = {
    import size._
    val spark = ctx.spark
    import spark.implicits._
    val tracer = ctx.tracer
    val rnd = new SplittableRandom(ctx.seed)
    val tables = ctx.dir("etl/tables")
    val table = s"$tables/lineitem.parquet"
    val base = ctx.dir("etl/base.parquet")
    val sweep = ctx.dir("etl/sweep")
    val csv = ctx.dir("etl/csv")
    val errors = mutable.ArrayBuffer[String]()

    val nationOf = Gen.supplierNation(ctx.seed)
    writeTable(tables, "supplier", (0 until 1000).map(s =>
      (s.toLong, s"Supplier#$s", nationOf(s), 0.0)).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"))
    writeTable(tables, "nation", (0 until 25).map(n => (n, s"NATION_$n", n % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"))
    // the registry registers every table of the catalog; the query reads three
    writeTable(tables, "region", Seq((1L, "x")).toDF("id", "name"))
    Seq("customer", "part", "orders", "events", "documents", "embeddings").foreach(n =>
      java.nio.file.Files.copy(new File(s"$tables/region.parquet").toPath, new File(s"$tables/$n.parquet").toPath))
    val baseTable = (0 until baseRows).map(k => Model.landed(Gen.etlRow(rnd, k.toLong)))
    baseTable.toDF().repartition(4).write.parquet(base)

    // The bigint side load: one fixed two-row workbook, whatever the seed.
    val sideIn = ctx.dir("etl/side_in")
    val sideCsv = ctx.dir("etl/side_csv")
    val side = ctx.dir("etl/side.parquet")
    val sideSeed = ctx.dir("etl/side_seed.parquet")
    new File(sideIn).mkdirs()
    ExcelSource.writeWorkbook(s"$sideIn/repro.xlsx", Seq("s1" -> Seq(Seq("1", "x", "1.5"), Seq("2", "y", "2.5"))))
    PipelineRunner.run(spark, ExcelToCsv(sideIn, sideCsv)).left.foreach(e => errors += s"side EP1: $e")
    Seq((1L, "old", 0.5), (9L, "keep", 9.5)).toDF("k", "v", "p").coalesce(1).write.parquet(sideSeed)
    val sideWant = Map(1L -> ("x", 1.5), 2L -> ("y", 2.5), 9L -> ("keep", 9.5))

    val baseKeys = (0L until baseRows).toIndexedSeq
    def restore(from: String, to: String): Unit = {
      FileOps.deletePrefix(spark, to)
      val conf = spark.sparkContext.hadoopConfiguration
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
      org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(from), fs,
        new org.apache.hadoop.fs.Path(to), false, conf)
    }
    def reset(): Unit = {
      FileOps.resetWorkDirs(spark, Seq(sweep))
      restore(base, table)
    }

    val bytesPerRow = mutable.ArrayBuffer[Double]()
    var attempted = 0L
    var failed = 0L
    var g = 0
    def batch(timed: Boolean): Double = {
      g += 1
      val stampDay = Today.plusDays(DayDiff + (rnd.nextInt(4) match {
        case 0 => 1 + rnd.nextInt(4) // newer than the window: kept
        case 1 => -61 - rnd.nextInt(30) // older than the window: kept
        case _ => -rnd.nextInt(61) // inside the window: swept
      }))
      val stamp = f"${stampDay.toString.replace("-", "")}${rnd.nextInt(24)}%02d${rnd.nextInt(60)}%02d${rnd.nextInt(60)}%02d"
      val container = s"${if (rnd.nextInt(6) == 0) "ls_xx" else "ls_df"}_${stamp}_b$g"
      val in = ctx.dir(s"etl/in/$container")
      var nextKey = baseRows.toLong
      val rows = Gen.etlBatch(rnd, rowsPerBatch, baseKeys, () => { nextKey += 1; nextKey - 1 })
      new File(in).mkdirs()
      rows.grouped(rowsPerSheet * Sheets).zipWithIndex.foreach { case (wb, w) =>
        val sheets = wb.grouped(rowsPerSheet).zipWithIndex.map { case (rs, s) => s"sheet$s" -> rs.map(_.cells) }.toSeq
        if (w % 2 == 0) ExcelSource.writeWorkbook(s"$in/wbx$w.xlsx", sheets)
        else XlsSource.writeWorkbook(s"$in/wbl$w.xls", sheets)
      }
      def step(name: String)(body: => Either[PipelineRunner.StepError, PipelineRunner.StepReport]) = {
        val (r, t) = tracer.time(name)(body)
        r.left.foreach { e => errors += s"$name: $e"; if (timed) failed += 1 }
        (r, t)
      }
      if (tracer.enabled) {
        tracer.time("sources.parse")(ExcelSource.readAny(spark, in).write.format("noop").mode("overwrite").save())
        tracer.note("sources.parse", "workbooks", workbooks)
      }
      val (_, t1) = step("ep1")(PipelineRunner.run(spark, ExcelToCsv(in, csv)))
      val (lines, bytes) = csvLines(new File(csv))
      errors ++= Model.checkCsv(lines, 9, rowsPerBatch)
      tracer.note("ep1", "csv_bytes", bytes.toDouble)
      val (_, t2) = step("ep2")(PipelineRunner.run(spark, LoadTable(s"$csv/*.csv", table, "upsert", Seq("lkey"))))
      tracer.note("ep2", "batch_rows", rowsPerBatch)
      // QueryCatalog registers the table views once per folder and the
      // views keep their file listing, so without this refresh EP3 fails
      // on every batch after the first (a fault of the engine, not
      // counted in `failed`). The refresh is the benchmark's, untimed.
      if (spark.catalog.tableExists("lineitem")) spark.catalog.refreshTable("lineitem")
      val (_, t3) = step("ep3")(PipelineRunner.run(spark, CallQuery(tables, "revenue_by_nation")))
      val inputs = new File(in).listFiles().map(_.getAbsolutePath).sorted
      val (r4, t4) = step("cleanup") {
        inputs.foreach(f => FileOps.archiveMove(spark, f, sweep, ArchiveAt))
        PipelineRunner.run(spark, Cleanup(Seq(csv, in), Some(sweep), "ls", "df", DayDiff, Today))
      }
      r4.foreach(r => tracer.note("cleanup", "dirs_swept",
        "swept (\\d+) dir".r.findFirstMatchIn(r.detail).fold(0.0)(_.group(1).toDouble)))
      errors ++= Model.checkSurvivors(
        if (Model.swept(container, "ls", "df", DayDiff, Today)) Set.empty else Set(container),
        new File(sweep).list().toSet)
      FileOps.deletePrefix(spark, in)

      // Counted as failed when the load fails or lands other rows than
      // the model; outside the batch's wall time.
      if (timed) {
        restore(sideSeed, side)
        val r = tracer.time("side_load")(PipelineRunner.run(spark, LoadTable(s"$sideCsv/*.csv", side, "upsert", Seq("k"))))._1
        val got = spark.read.parquet(side).collect().toSeq.map(x =>
          (if (x.isNullAt(0)) null else java.lang.Long.valueOf(x.getLong(0)), x.getString(1), x.getDouble(2)))
        if (r.isLeft || Model.checkSideLoad(sideWant, got).nonEmpty) failed += 1
        attempted += 5
      }

      val model = mutable.HashMap.from(baseTable.map(r => r.lkey -> r))
      Model.upsert(model, rows.map(Model.landed))
      val landed = spark.read.parquet(table)
        .select(col("lkey"), col("l_extendedprice").cast("decimal(18,2)")).collect()
      errors ++= Model.checkTable(model, landed.length.toLong, landed.toSeq.map(_.getDouble(0)),
        landed.iterator.map(r => BigDecimal(r.getDecimal(1))).sum)
      errors ++= Model.checkRevenue(Model.revenueByNation(model.values, nationOf),
        QueryCatalog.run(spark, tables, "revenue_by_nation").collect().toSeq
          .map(r => (r.getString(0), r.getDouble(1), r.getLong(2))))
      if (timed) bytesPerRow += Ctx.bytesUnder(new File(table)).toDouble / landed.length
      reset()
      t1 + t2 + t3 + t4
    }

    reset()
    new Part {
      val writes: Seq[String] = Writes
      val reads: Seq[String] = Reads
      def iteration(timed: Boolean): Double = batch(timed)
      def finish(): PartOutcome = PartOutcome(attempted, failed, errors.toSeq, bytesPerRow.toSeq)
    }
  }

  /** Writes `df` as the single parquet file `<dir>/<name>.parquet`. */
  def writeTable(dir: String, name: String, df: DataFrame): Unit = {
    val tmp = s"$dir/_tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    new File(dir).mkdirs()
    java.nio.file.Files.move(part.toPath, new File(s"$dir/$name.parquet").toPath)
    FileOps.deletePrefix(df.sparkSession, tmp)
  }

  /** Lines and bytes of every data file under EP1's output folder. */
  def csvLines(dir: File): (Seq[String], Long) = {
    def walk(f: File): Seq[File] = if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(dir).filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    val lines = files.flatMap(f => new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      .split("\n", -1).dropRight(1))
    (lines, files.map(_.length).sum)
  }
}
