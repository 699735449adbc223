package graft

import java.sql.Timestamp

import graft.ops.{CsvIO, FileOps, Sanitize}

/** Pipe-CSV round-trip golden test (A5/B4) + FileOps basics. */
class CsvIOSpec extends SparkSpec {

  test("sanitized rows round-trip byte-stable through pipe-CSV with borrowed schema") {
    import spark.implicits._
    val df = Sanitize.columns(Seq(
      (1L, "plain text", 1.5, Timestamp.valueOf("2020-01-02 00:00:00")),
      (2L, "with, comma and 'quote'", -2.25, Timestamp.valueOf("1999-12-31 23:59:59")),
      (3L, "slash/and\\back\nnewline", 0.0, Timestamp.valueOf("2024-06-01 12:34:56")))
      .toDF("k", "s", "v", "ts"))
    val dir = tmpDir("csv") + "/out"
    CsvIO.writePipe(df, dir)
    val back = CsvIO.readBorrowed(spark, dir, df)
    val a = df.collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b, "round-trip must be lossless after sanitize removes csv-hostile chars")
  }

  test("typed reads are strict: integral columns take the zero-fraction " +
      "float form, unparseable cells fail instead of landing NULL") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("d", DoubleType)))
    def readLines(lines: String*) = {
      val dir = tmpDir("csv-strict")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "part.csv"),
        lines.mkString("", "\n", "\n"))
      CsvIO.readPipe(spark, dir, schema).collect().map(_.toSeq).toSet
    }
    assert(readLines("1.0|x|1.5", "2|y|2", "-3.00|z|", "||", "4|short") ==
      Set(Seq(1L, "x", 1.5), Seq(2L, "y", 2.0), Seq(-3L, "z", null),
        Seq(null, null, null), Seq(4L, "short", null)))
    Seq("1.5|x|1.0", "abc|x|1.0", "99999999999999999999|x|1.0", "1|x|zz").foreach { bad =>
      val e = intercept[Exception](readLines("1|ok|1.0", bad))
      assert(e.getMessage.contains("Error - pipe-CSV cell"), s"$bad: ${e.getMessage}")
    }
  }

  test("listFiles + excelInputFilter keep only xls-ish names (A6)") {
    import spark.implicits._
    val dir = tmpDir("listing")
    Seq("placeholder.txt", "Report.XLSX", "data.xls", "notes.csv").foreach { n =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, n), "x")
    }
    val kept = FileOps.listFiles(spark, dir)
      .filter(FileOps.excelInputFilter($"name"))
      .select($"name").collect().map(_.getString(0)).toSet
    assert(kept == Set("Report.XLSX", "data.xls"))
  }

  test("archiveMove renames under _yyyyMMddHHmm (A7)") {
    val root = tmpDir("arch")
    val srcDir = new java.io.File(root, "in"); srcDir.mkdirs()
    val f = new java.io.File(srcDir, "a.csv")
    java.nio.file.Files.writeString(f.toPath, "1|2")
    val now = java.time.LocalDateTime.of(2020, 1, 2, 3, 4)
    val dest = FileOps.archiveMove(spark, f.getAbsolutePath, s"$root/archive", now)
    assert(dest.endsWith("archive/in/_202001020304/a.csv"))
    assert(!f.exists())
    assert(new java.io.File(new java.net.URI(dest).getPath).exists() ||
      new java.io.File(dest.stripPrefix("file:")).exists())
  }

  test("deletePrefix refuses near-root paths (A8 guard)") {
    intercept[IllegalArgumentException](FileOps.deletePrefix(spark, "/tmp"))
  }
}
