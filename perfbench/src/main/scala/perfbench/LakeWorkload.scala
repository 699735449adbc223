package perfbench

import java.nio.file.{Files => NioFiles, Paths, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.ops.{FileOps, Layout, Versioned}
import graft.ops.Versioned.ScanPredicate.Bounds
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions.{col, count, lit, sum}

/** The versioned table under a stream of DML: per round one `mergeApply`
  * batch (updates and inserts), one `deleteWhere`, one `updateWhere`, then
  * a read set (latest-version aggregate, time-travel read, `readPruned`
  * lookup, metadata `rowCount`).
  *
  * Every round starts from the table as set-up committed it: before each
  * round but the first the table's directory is restored from a copy,
  * untimed. So the median round sees the same table and log length in
  * every run, however many rounds fit in the run.
  *
  * After the timed rounds, `compact` and `vacuum` run once, untimed, for
  * their checks.
  */
object LakeWorkload {
  /** Input sizes: rows committed in set-up, rows per merge batch (half
    * updates, half inserts), ids per `readPruned` lookup.
    */
  final case class Size(baseRows: Int, mergeRows: Int, lookupIds: Int)
  val Full: Size = Size(baseRows = 50000, mergeRows = 2000, lookupIds = 400)
  val Files = 8
  private val Writes = Seq("merge_apply", "delete_where", "update_where")
  private val Reads = Seq("read_latest", "read_as_of", "read_pruned", "row_count")

  def start(ctx: Ctx, size: Size = Full): Part = {
    import size._
    val spark = ctx.spark
    import spark.implicits._
    val tracer = ctx.tracer
    val rnd = new SplittableRandom(ctx.seed)
    val t = ctx.dir("lake/t")
    val saved = ctx.dir("lake/base")
    val errors = mutable.ArrayBuffer[String]()
    val seed = ctx.seed
    val tableRoot = new java.io.File(t)

    val baseDf = spark.range(baseRows).map(id => Gen.lakeRow(seed, 0, id))(Encoders.product[LakeRow]).toDF()
    Versioned.commitWithStats(spark, t, Layout.sortedByRange(baseDf, Seq(col("id")), Files), Seq("id"))
    // Modification times are kept, so listing-keyed memos in the engine
    // see the restored files as the ones they already know.
    def copyDir(from: String, to: String): Unit = {
      val src = Paths.get(from)
      val all = NioFiles.walk(src)
      try all.iterator().asScala.foreach { p =>
        val q = Paths.get(to).resolve(src.relativize(p))
        if (NioFiles.isDirectory(p)) NioFiles.createDirectories(q)
        else NioFiles.copy(p, q, StandardCopyOption.COPY_ATTRIBUTES)
      } finally all.close()
    }
    copyDir(t, saved)
    var model = new Model.Lake(seed, baseRows)

    def sums(df: DataFrame): (Long, BigDecimal, BigDecimal) = {
      val r = df.agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)")),
        sum(col("l_discount").cast("decimal(18,2)"))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)), BigDecimal(r.getDecimal(2)))
    }
    def parquetFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] = if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(tableRoot).filter(f => f.getName.endsWith(".parquet")).map(_.getPath).toSet
    }

    val baseV = Versioned.latestVersion(spark, t).get
    val baseSums = model.sums
    val bytesPerRow = mutable.ArrayBuffer[Double]()
    var attempted = 0L
    var r = 0

    /** Times a write verb; in a traced run also counts the files and bytes
      * it left under the table.
      */
    def write[T](name: String)(body: => T): Double = {
      val before = if (tracer.enabled) parquetFiles() else Set.empty[String]
      val (_, s) = tracer.time(name)(body)
      if (tracer.enabled) {
        val added = parquetFiles() -- before
        tracer.note(name, "files_written", added.size)
        tracer.note(name, "bytes_written", added.toSeq.map(f => new java.io.File(f).length()).sum.toDouble)
      }
      s
    }

    def round(timed: Boolean): Double = {
      if (r > 0) {
        FileOps.deletePrefix(spark, t)
        copyDir(saved, t)
        model = new Model.Lake(seed, baseRows)
      }
      r += 1
      val updates = Iterator.continually(rnd.nextLong(model.nextId)).filter(model.isLive)
        .distinct.take(mergeRows / 2).toSeq
      val batch = (updates.map(id => Gen.lakeRow(seed, r, id)) ++
        (0 until mergeRows / 2).map(i => Gen.lakeRow(seed, r, model.nextId + i))).toIndexedSeq
      val supp = rnd.nextLong(1000L)
      val part = rnd.nextLong(2000L)
      val w1 = write("merge_apply")(Versioned.mergeApply(spark, t, batch.toDF(), "id", statsCols = Seq("id")))
      batch.foreach(model.put)
      val w2 = write("delete_where")(Versioned.deleteWhere(spark, t,
        col("l_suppkey") === supp && col("l_quantity") > 25.0))
      model.delete(x => x.l_suppkey == supp && x.l_quantity > 25.0)
      val w3 = write("update_where")(Versioned.updateWhere(spark, t, col("l_partkey") % 2000 === part,
        Map("l_quantity" -> (col("l_quantity") + 1.0), "l_discount" -> lit(0.01)), statsCols = Seq("id")))
      model.update(x => x.l_partkey % 2000 == part, x => x.copy(l_quantity = x.l_quantity + 1.0, l_discount = 0.01))

      val (latest, r1) = tracer.time("read_latest")(sums(Versioned.read(spark, t)))
      val (asOf, r2) = tracer.time("read_as_of")(sums(Versioned.read(spark, t, Some(baseV))))
      val lo = rnd.nextLong(model.nextId)
      val ((pruned, kept, total), r3) = tracer.time("read_pruned") {
        val (f, k, n) = Versioned.readPruned(spark, t, None,
          Seq(Bounds("id", Some(lo.toString), Some((lo + lookupIds - 1).toString))))
        (f.filter(col("id").between(lo, lo + lookupIds - 1)).as[LakeRow].collect().toSeq, k, n)
      }
      tracer.note("read_pruned", "files_read_ratio", kept.toDouble / total)
      val (rc, r4) = tracer.time("row_count")(Versioned.rowCount(spark, t))

      errors ++= Model.checkSums(s"round $r latest", model.sums, latest)
      errors ++= Model.checkSums(s"round $r as-of v$baseV", baseSums, asOf)
      errors ++= Model.checkRows(s"round $r readPruned [$lo, +$lookupIds)", model.range(lo, lo + lookupIds - 1), pruned)
      if (!rc.contains(latest._1)) errors += s"round $r rowCount $rc, full scan ${latest._1}"
      if (timed) {
        attempted += 7
        bytesPerRow += Ctx.bytesUnder(tableRoot).toDouble / model.count
      }
      w1 + w2 + w3 + r1 + r2 + r3 + r4
    }

    new Part {
      val writes: Seq[String] = Writes
      val reads: Seq[String] = Reads
      def iteration(timed: Boolean): Double = round(timed)
      def finish(): PartOutcome = {
        // Untimed maintenance: compaction conserves the content, and vacuum
        // leaves the latest version unchanged.
        Versioned.compact(spark, t, Files, Seq("id"))
        errors ++= Model.checkSums("after compact", model.sums, sums(Versioned.read(spark, t)))
        Versioned.vacuum(spark, t)
        errors ++= Model.checkSums("after vacuum", model.sums, sums(Versioned.read(spark, t)))

        PartOutcome(attempted, 0L, errors.toSeq, bytesPerRow.toSeq)
      }
    }
  }
}
