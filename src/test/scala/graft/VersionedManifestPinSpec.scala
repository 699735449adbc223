package graft

import graft.ops.Versioned
import org.apache.spark.sql.functions.col

/** Manifest pins for every versioned-table writer verb: a scripted pair
  * of tables runs each verb once, and every manifest the script writes
  * must match `versioned-manifest-pin.txt` line for line. Commit
  * timestamps (`ts=`/`tsm=`) are dropped, and the random suffixes of
  * staged dir names and Spark part files are masked, so the pins hold
  * across runs. A verb that forgets to carry a manifest field forward
  * (a constraint, a partition spec, a column mapping) fails here by name.
  *
  * The second group pins the staged-dir ownership law on the two verbs
  * that stage a data dir AND a deletion-vector dir: a lost race or a
  * CHECK violation leaves nothing behind under `data/`.
  */
class VersionedManifestPinSpec extends SparkSpec {

  import spark.implicits._

  private val Golden = "/versioned-manifest-pin.txt"

  private def manifestText(table: String, v: Long): String = {
    val src = scala.io.Source.fromFile(f"$table/_commits/$v%06d.manifest", "UTF-8")
    val lines = try src.getLines().toList finally src.close()
    lines.filterNot(l => l.startsWith("ts=") || l.startsWith("tsm="))
      .map(_.replaceAll("(d?v\\d{6})-[0-9a-f]{8}", "$1-*")
        .replaceAll("part-(\\d{5})-[0-9a-f-]{36}", "part-$1-*"))
      .mkString("\n")
  }

  /** (label, manifest text) for every commit the script makes, in order. */
  private lazy val pinned: Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    def pin(label: String, table: String, v: Long): Unit =
      out += label -> manifestText(table, v)
    def head(table: String): Long = Versioned.latestVersion(spark, table).get

    val base = tmpDir("manifest-pin")
    val t = s"$base/t"
    def rows(ids: Seq[Int]) =
      ids.map(i => (i.toLong, if (i % 2 == 0) "a" else "b", i * 10)).toDF("id", "s", "v")

    pin("append", t, Versioned.commitWithStats(spark, t, rows(1 to 6), Seq("id")))
    pin("appendRebase", t, Versioned.appendRebase(spark, t, rows(Seq(7, 8)))._1)
    pin("merge", t, Versioned.mergePruned(spark, t,
      Seq((1L, "b", 11), (2L, "a", 21)).toDF("id", "s", "v"), "id", Seq("id"),
      numFiles = 1)._1)
    pin("mergeApply", t, Versioned.mergeApply(spark, t,
      Seq((3L, "b", 31), (12L, "a", 120)).toDF("id", "s", "v"), "id",
      statsCols = Seq("id"), numFiles = 1)._1)
    pin("deleteWhere", t, Versioned.deleteWhere(spark, t, col("id") === 4L))
    pin("deleteWhereRange", t,
      Versioned.deleteWhereRange(spark, t, "id", "5", "5")._1)
    pin("updateWhere", t, Versioned.updateWhere(spark, t, col("id") === 6L,
      Map("v" -> (col("v") + 1)), statsCols = Seq("id")))
    pin("compactSmall", t, Versioned.compactSmall(spark, t, Long.MaxValue,
      Seq(col("id")), 2, Seq("id"))._1)
    pin("append without stats", t,
      Versioned.commit(spark, t, rows(Seq(20, 21)).repartition(1)))
    // a txn mark belongs to its own commit: the next verb must not carry it
    pin("append with txn", t, Versioned.commit(spark, t,
      rows(Seq(22)).repartition(1), txn = Some(("app", 7L))))
    pin("compactWhere", t, Versioned.compactWhere(spark, t,
      Seq(Versioned.ScanPredicate.Bounds("id", Some("1"), Some("3"))),
      numFiles = 1, statsCols = Seq("id"))._1)
    pin("addConstraint", t, Versioned.addConstraint(spark, t, "pos", "id > 0"))
    pin("addColumn", t, Versioned.addColumn(spark, t, "extra",
      org.apache.spark.sql.types.StringType))
    pin("widen", t, Versioned.widenColumn(spark, t, "v",
      org.apache.spark.sql.types.LongType))
    val beforeSpec = head(t)
    pin("setPartitionSpec", t, Versioned.setPartitionSpec(spark, t, Seq("s")))
    pin("rollback", t, Versioned.rollback(spark, t, beforeSpec))
    pin("overwrite", t, Versioned.commit(spark, t,
      Seq((30L, "a", 300L, "x"), (31L, "b", 310L, "y")).toDF("id", "s", "v", "extra"),
      overwrite = true))
    pin("compact", t, Versioned.compact(spark, t, numFiles = 1))

    val c = Versioned.shallowClone(spark, t, s"$base/c")
    pin("clone", c, head(c))
    val b = Versioned.branch(spark, t, "b")
    pin("branch", b, head(b))
    pin("branch append", b, Versioned.commit(spark, b,
      Seq((32L, "a", 320L, "z")).toDF("id", "s", "v", "extra").repartition(1)))
    pin("promote", t, Versioned.promote(spark, b))

    // column mapping: a branch-side rename, a root-side constraint, the
    // three-way merge of both, then the verbs that run on the merged head
    val u = s"$base/u"
    Versioned.commit(spark, u, Seq((1L, 10L), (2L, 20L)).toDF("id", "v").repartition(1))
    val ub = Versioned.branch(spark, u, "ub")
    pin("rename", ub, Versioned.renameColumn(spark, ub, "v", "amount"))
    Versioned.addConstraint(spark, u, "pos", "id > 0")
    pin("merge3", u, Versioned.merge3(spark, ub))
    pin("dropConstraint", u, Versioned.dropConstraint(spark, u, "pos"))
    pin("dropColumn", u, Versioned.dropColumn(spark, u, "amount"))
    out.result()
  }

  private lazy val golden: Map[String, String] = {
    val in = getClass.getResourceAsStream(Golden)
    require(in != null, s"missing test resource $Golden")
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    text.split("(?m)^== ").toSeq.filter(_.nonEmpty).map { sec =>
      val (label, body) = sec.span(_ != '\n')
      label -> body.drop(1).stripTrailing()
    }.toMap
  }

  private val Labels = Seq("append", "appendRebase", "merge", "mergeApply",
    "deleteWhere", "deleteWhereRange", "updateWhere", "compactSmall",
    "append without stats", "append with txn", "compactWhere", "addConstraint", "addColumn",
    "widen", "setPartitionSpec", "rollback", "overwrite", "compact", "clone",
    "branch", "branch append", "promote", "rename", "merge3",
    "dropConstraint", "dropColumn")

  test("the script pins exactly the listed verbs, in order") {
    assert(pinned.map(_._1) == Labels)
    assert(golden.keySet == Labels.toSet, s"golden sections: ${golden.keySet}")
  }

  Labels.foreach { label =>
    test(s"manifest pin: $label") {
      val actual = pinned.toMap.apply(label)
      val expected = golden.getOrElse(label, "<no golden section>")
      if (actual != expected) {
        // the whole actual text, in the golden file's format, for review
        val dump = new java.io.File("target/versioned-manifest-pin.actual.txt")
        dump.getParentFile.mkdirs()
        java.nio.file.Files.write(dump.toPath, pinned.map { case (l, m) =>
          s"== $l\n$m\n" }.mkString.getBytes("UTF-8"))
        fail(s"manifest of '$label' changed (all actual pins in $dump):\n" +
          s"--- expected\n$expected\n--- actual\n$actual")
      }
    }
  }

  private def dataDirs(t: String): Set[String] =
    new java.io.File(s"$t/data").list().toSet

  private object AlwaysLose extends Versioned.CommitStore {
    def publish(f: org.apache.hadoop.fs.FileSystem,
        dest: org.apache.hadoop.fs.Path, bytes: Array[Byte]): Boolean = false
  }

  private def losingRace[T](body: => T): Unit = {
    val prior = Versioned.commitStore
    Versioned.commitStore = AlwaysLose
    try intercept[java.util.ConcurrentModificationException](body)
    finally Versioned.commitStore = prior
  }

  private def seeded(prefix: String): String = {
    val t = tmpDir(prefix) + "/t"
    Versioned.commit(spark, t, Seq((1L, 10), (2L, 20)).toDF("id", "v"))
    Versioned.addConstraint(spark, t, "small", "v < 100")
    t
  }

  test("updateWhere: a lost race or a CHECK violation leaves no staged dir") {
    val t = seeded("pin-update")
    val before = dataDirs(t)
    losingRace(Versioned.updateWhere(spark, t, col("id") === 1L,
      Map("v" -> (col("v") + 1)), maxAttempts = 1))
    assert(dataDirs(t) == before, "a lost race must drop the dv and data dirs")
    intercept[IllegalArgumentException](Versioned.updateWhere(spark, t,
      col("id") === 1L, Map("v" -> (col("v") + 1000))))
    assert(dataDirs(t) == before, "a CHECK violation must drop the dv and data dirs")
    assert(Versioned.latestVersion(spark, t) == Some(2L))
  }

  test("mergeApply: a lost race or a CHECK violation leaves no staged dir") {
    val t = seeded("pin-mergeapply")
    val before = dataDirs(t)
    losingRace(Versioned.mergeApply(spark, t,
      Seq((1L, 11), (3L, 30)).toDF("id", "v"), "id", maxAttempts = 2))
    assert(dataDirs(t) == before, "a lost race must drop the dv and data dirs")
    intercept[IllegalArgumentException](Versioned.mergeApply(spark, t,
      Seq((1L, 11), (3L, 300)).toDF("id", "v"), "id"))
    assert(dataDirs(t) == before, "a CHECK violation must drop the dv and data dirs")
    assert(Versioned.latestVersion(spark, t) == Some(2L))
  }
}
