package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional third arg = comma-list of query names (local iteration
    // only; the driver always passes two args and gets the full dump).
    val (sfDir, outDir, only) = args match {
      case Array(a, b)    => (a, b, None)
      case Array(a, b, c) => (a, b, Some(c.split(",").toSet))
    }
    // Single canonical session config (Engine.builder): AQE + UTC +
    // shuffle-partition sizing must match what the bench measures.
    val spark = Engine.session()
    try dump(spark, sfDir, outDir, only)
    finally deleteWorkDirs(new java.io.File(sys.props("java.io.tmpdir")),
      ProcessHandle.current().pid())
  }

  /** Deletes the work dirs this process's oracle entries staged under
    * `tmp` (each entry stages into `graft_<entry>_<pid>`), without
    * following symlinks; other processes' dirs stay.
    */
  private[graft] def deleteWorkDirs(tmp: java.io.File, pid: Long): Unit =
    Option(tmp.listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.startsWith("graft_") && f.getName.endsWith(s"_$pid"))
      .foreach(Bench.deleteRec)

  private def dump(spark: SparkSession, sfDir: String,
      outDir: String, only: Option[Set[String]]): Unit = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // A failure must stay IN the denominator: leave an _ERROR marker
        // (and no parquet) so the driver records the query as err instead
        // of it silently vanishing from CORRECTNESS_r*.json — round 7 lost
        // four red queries exactly this way.
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        val d = new java.io.File(s"$outDir/$name")
        org.apache.commons.io.FileUtils.deleteQuietly(d)
        d.mkdirs()
        Files.writeString(Paths.get(s"$outDir/$name/_ERROR"),
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500))
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
