package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Pipe-delimited CSV interchange (A5/B4) — the reference's DB-bound file
  * format: `|`-separated, UTF-8, no quoting needed because quotes and
  * commas were removed by the sanitize chain upstream
  * (`/root/reference/adffunction/__init__.py:168` `copy_from(f, tbl,
  * sep='|')`; `SharedCode/HelperFunction.py:36-37`).
  *
  * `readBorrowed` is the staged-load idiom (B4): the reader takes the
  * TARGET's schema, exactly like Postgres' `CREATE TEMP TABLE source
  * (LIKE target INCLUDING ALL)` + COPY (`PGHelperFunction.py:74-75`) —
  * text parses against the target's types, no inference drift.
  *
  * The timestamp format is pinned (second precision, UTC session) so a
  * write→read round-trip is value-stable — golden-tested in `CsvIOSpec`.
  */
object CsvIO {

  val Sep = "|"
  val TsFormat = "yyyy-MM-dd HH:mm:ss"
  private val Corrupt = "__corrupt_record"

  def writePipe(df: DataFrame, path: String, header: Boolean = false): Unit =
    df.write.mode("overwrite")
      .option("sep", Sep)
      .option("header", header.toString)
      .option("timestampFormat", TsFormat)
      .csv(path)

  /** Read pipe-CSV under `schema`, strictly: a non-empty cell that does
    * not parse as its column's type fails the read (as Postgres COPY
    * rejects it) instead of landing NULL. Integral columns also accept
    * the zero-fraction float form EP1 writes for integer cells (xlrd's
    * `1.0` reads as 1). Empty cells and short rows still read NULL.
    */
  def readPipe(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    def integral(t: DataType) = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    // integral columns parse here, from text; other typed columns parse
    // in the CSV reader, which flags a failed cell's raw line
    val checked = schema.fields.exists(f =>
      f.dataType != StringType && !integral(f.dataType))
    val readSchema = StructType(schema.fields.map(f =>
      if (integral(f.dataType)) f.copy(dataType = StringType) else f) ++
      (if (checked) Seq(StructField(Corrupt, StringType)) else Nil))
    val raw = spark.read
      .schema(readSchema)
      .option("sep", Sep)
      .option("header", header.toString)
      .option("timestampFormat", TsFormat)
      .option("columnNameOfCorruptRecord", Corrupt)
      .csv(path)
    val tokens = split(col(Corrupt), java.util.regex.Pattern.quote(Sep), -1)
    raw.select(schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      def fail(cell: Column) = raise_error(concat(
        lit(s"Error - pipe-CSV cell of column ${f.name} is not a " +
          s"${f.dataType.simpleString}: "), cell))
      val v =
        if (integral(f.dataType)) {
          val digits = regexp_extract(c, "^\\s*([+-]?\\d+)(\\.0*)?\\s*$", 1)
          when(c.isNull, lit(null)).otherwise(coalesce(
            when(digits =!= "", digits).try_cast(f.dataType), fail(c)))
            .cast(f.dataType)
        } else if (f.dataType == StringType) c
        else {
          // the reader nulls a cell it cannot parse and keeps the line
          val cell = get(tokens, lit(i))
          when(c.isNull && col(Corrupt).isNotNull && coalesce(cell =!= "", lit(false)),
            fail(cell)).otherwise(c)
        }
      v.as(f.name)
    }: _*)
  }

  /** B4: schema borrowed from the target relation (`LIKE target`). */
  def readBorrowed(spark: SparkSession, path: String, target: DataFrame): DataFrame =
    readPipe(spark, path, target.schema)
}
