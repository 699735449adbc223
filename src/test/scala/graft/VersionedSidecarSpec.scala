package graft

import graft.ops.Versioned
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.col

/** Sidecar ordering: a verb that harvests `_stats`/`_ndv`/`_qtl` must
  * write them into its staged dir BEFORE the commit publishes. A reader
  * that plans the new version between the CAS and a late harvest sees a
  * manifest-less dir and scans all of it. The probe store wraps
  * [[Versioned.RenameCommitStore]] and records, at each publish, which
  * sidecars the manifest's newest ref already holds.
  */
class VersionedSidecarSpec extends SparkSpec {

  import spark.implicits._

  private val Sidecars = Seq("_stats", "_ndv", "_qtl")

  /** The sidecars the newest ref holds, per publish on `table`. */
  private final class ProbeStore(table: String) extends Versioned.CommitStore {
    val seen = scala.collection.mutable.ArrayBuffer.empty[Set[String]]
    def publish(f: FileSystem, dest: Path, bytes: Array[Byte]): Boolean = {
      val dir = new String(bytes, "UTF-8").split("\n").last
      seen += Sidecars.filter(s =>
        new java.io.File(s"$table/data/$dir/$s").exists()).toSet
      Versioned.RenameCommitStore.publish(f, dest, bytes)
    }
  }

  /** The sidecars each publish of `body` found in place. */
  private def probe(table: String)(body: => Any): Seq[Set[String]] = {
    val store = new ProbeStore(table)
    val prior = Versioned.commitStore
    Versioned.commitStore = store
    try body finally Versioned.commitStore = prior
    store.seen.toSeq
  }

  private def batch(lo: Long) =
    (lo until lo + 40L).map(i => (i, (i * 7) % 13, s"s$i")).toDF("id", "v", "s")

  test("stats-writing commits land their sidecars before the manifest") {
    val t = tmpDir("sidecar-commit") + "/t"
    assert(probe(t)(Versioned.commitWithStats(spark, t, batch(0), Seq("id", "v")))
      == Seq(Set("_stats")))
    assert(probe(t)(Versioned.commitWithNdv(spark, t, batch(40),
      Seq("id"), Seq("v"))) == Seq(Set("_stats", "_ndv")))
    assert(probe(t)(Versioned.commitWithQuantiles(spark, t, batch(80),
      Seq("id"), Seq("v"))) == Seq(Set("_stats", "_qtl")))
    assert(Versioned.read(spark, t).count() == 120L)
  }

  test("compactions land their stats before the manifest") {
    val t = tmpDir("sidecar-compact") + "/t"
    Versioned.commit(spark, t, batch(0))
    Versioned.commit(spark, t, batch(40))
    assert(probe(t)(Versioned.compact(spark, t, numFiles = 2,
      statsCols = Seq("id"))) == Seq(Set("_stats")))
    assert(probe(t)(Versioned.compactSorted(spark, t, Seq(col("v")), 2,
      Seq("id", "v"))) == Seq(Set("_stats")))
    assert(Versioned.read(spark, t).count() == 80L)
  }

  test("a harvest that throws aborts the commit and leaves no staged dir") {
    val t = tmpDir("sidecar-abort") + "/t"
    Versioned.commit(spark, t, batch(0))
    val before = new java.io.File(s"$t/data").list().toSet
    // a quantile harvest with no columns is refused
    intercept[IllegalArgumentException](Versioned.commitWithQuantiles(spark, t,
      batch(40), Seq("id"), Nil))
    assert(new java.io.File(s"$t/data").list().toSet == before)
    assert(Versioned.latestVersion(spark, t) == Some(1L))
  }
}
