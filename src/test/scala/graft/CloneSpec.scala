package graft

import graft.ops.Versioned
import org.apache.spark.sql.functions.col

/** Zero-copy SHALLOW CLONE (VERDICT r16 item 6): a clone at a NEW
  * location is one manifest write + one registration pointer — zero
  * data dirs copied — evolving independently of the source, with the
  * source's vacuum pinning registered clones (unlike Delta's
  * silently-breaking caveat, which needs an explicit dropClone).
  */
class CloneSpec extends SparkSpec {
  import spark.implicits._

  private def dirsUnder(p: String): Set[String] = {
    val f = new java.io.File(p)
    if (!f.exists()) Set.empty
    else f.listFiles().filter(_.isDirectory).map(_.getName).toSet
  }

  test("clone at version v: zero data dirs copied, snapshot reads, head default") {
    val src = tmpDir("clone-src") + "/t"
    val dst = tmpDir("clone-dst") + "/c"
    Versioned.commit(spark, src,
      (1 to 10).map(i => (i.toLong, s"a$i")).toDF("id", "s"))
    Versioned.commit(spark, src,
      (11 to 20).map(i => (i.toLong, s"b$i")).toDF("id", "s"))
    val srcDirs = dirsUnder(s"$src/data")
    Versioned.shallowClone(spark, src, dst, version = Some(1L))
    // zero copy: the clone owns NO data dir; the source's set is untouched
    assert(dirsUnder(s"$dst/data").isEmpty && !new java.io.File(s"$dst/data").exists(),
      "a shallow clone must not materialize any data dir of its own")
    assert(dirsUnder(s"$src/data") == srcDirs,
      "cloning must not touch the source's data dirs")
    assert(Versioned.read(spark, dst).count() == 10L,
      "the clone reads the pinned snapshot")
    // head-default sibling
    val dst2 = tmpDir("clone-dst2") + "/c"
    Versioned.shallowClone(spark, src, dst2)
    assert(Versioned.read(spark, dst2).count() == 20L)
    // refusal: existing destination
    intercept[IllegalArgumentException](
      Versioned.shallowClone(spark, src, dst))
  }

  test("clone and source evolve independently; clone history time-travels") {
    val src = tmpDir("clone-evolve") + "/t"
    val dst = tmpDir("clone-evolve-dst") + "/c"
    Versioned.commit(spark, src,
      (1 to 5).map(i => (i.toLong, s"a$i")).toDF("id", "s"))
    Versioned.shallowClone(spark, src, dst)
    Versioned.commit(spark, dst,
      (6 to 8).map(i => (i.toLong, s"c$i")).toDF("id", "s"))
    Versioned.commit(spark, src,
      (9 to 10).map(i => (i.toLong, s"s$i")).toDF("id", "s"))
    assert(Versioned.read(spark, dst).count() == 8L,
      "the clone sees its own appends, not the source's")
    assert(Versioned.read(spark, src).count() == 7L,
      "the source sees its own appends, not the clone's")
    assert(Versioned.read(spark, dst, Some(1L)).count() == 5L,
      "clone v1 is the fork snapshot")
    // the clone's new dir landed in the SHARED source root (the
    // _dataroot contract), under a unique name
    assert(new java.io.File(s"$dst/data").exists() == false)
  }

  test("source vacuum pins registered clones; dropClone restores the Delta caveat") {
    val src = tmpDir("clone-vacuum") + "/t"
    val dst = tmpDir("clone-vacuum-dst") + "/c"
    Versioned.commit(spark, src,
      (1 to 10).map(i => (i.toLong, s"a$i")).toDF("id", "s"))
    Versioned.shallowClone(spark, src, dst)
    // source OVERWRITE drops v1's dirs from its own head
    Versioned.commit(spark, src,
      (100 to 104).map(i => (i.toLong, s"o$i")).toDF("id", "s"),
      overwrite = true)
    val deleted = Versioned.vacuum(spark, src, retainLast = 1)
    assert(deleted.isEmpty,
      s"vacuum must pin the registered clone's refs, deleted: $deleted")
    assert(Versioned.read(spark, dst).count() == 10L,
      "the clone survives the source vacuum")
    // dropClone: the explicit opt-in to the Delta caveat
    assert(Versioned.dropClone(spark, src, dst))
    val deleted2 = Versioned.vacuum(spark, src, retainLast = 1)
    assert(deleted2.nonEmpty,
      "after dropClone the fork-point dirs are vacuumable")
    intercept[Exception](Versioned.read(spark, dst).collect())
  }

  test("SQL surface: CREATE TABLE ... SHALLOW CLONE with path, version, and named targets") {
    val src = tmpDir("clone-sql") + "/t"
    Versioned.commit(spark, src,
      (1 to 10).map(i => (i.toLong, s"a$i")).toDF("id", "s"))
    Versioned.commit(spark, src,
      (11 to 15).map(i => (i.toLong, s"b$i")).toDF("id", "s"))
    // path-literal destination, head snapshot
    val d1 = tmpDir("clone-sql-d1") + "/c"
    val out = spark.sql(s"CREATE TABLE graft.`$d1` SHALLOW CLONE graft.`$src`")
      .collect()
    assert(out.head.getString(0) == d1)
    assert(Versioned.read(spark, d1).count() == 15L)
    assert(!new java.io.File(s"$d1/data").exists(), "zero data dirs copied")
    // pinned version
    val d2 = tmpDir("clone-sql-d2") + "/c"
    spark.sql(s"CREATE TABLE graft.`$d2` SHALLOW CLONE graft.`$src` VERSION AS OF 1")
    assert(Versioned.read(spark, d2).count() == 10L)
    // named destination registers the catalog entry
    val d3 = tmpDir("clone-sql-d3") + "/c"
    spark.sql("DROP TABLE IF EXISTS clone_sql_named")
    spark.sql(s"CREATE TABLE clone_sql_named SHALLOW CLONE graft.`$src` " +
      s"LOCATION '$d3'")
    assert(spark.sql("SELECT count(*) FROM clone_sql_named")
      .head().getLong(0) == 15L)
    spark.sql("DROP TABLE clone_sql_named")
    // refusals: named without LOCATION; path WITH LOCATION
    val eNoLoc = intercept[Exception](
      spark.sql(s"CREATE TABLE clone_sql_noloc SHALLOW CLONE graft.`$src`"))
    assert(eNoLoc.getMessage.contains("LOCATION"), eNoLoc.getMessage)
    val d4 = tmpDir("clone-sql-d4") + "/c"
    val eLoc = intercept[Exception](
      spark.sql(s"CREATE TABLE graft.`$d4` SHALLOW CLONE graft.`$src` " +
        s"LOCATION '/tmp/elsewhere'"))
    assert(eLoc.getMessage.contains("already carries"), eLoc.getMessage)
  }

  test("vacuum refuses when a registered clone is unreadable") {
    val src = tmpDir("clone-unread") + "/t"
    val dst = tmpDir("clone-unread-dst") + "/c"
    Versioned.commit(spark, src,
      (1 to 5).map(i => (i.toLong, s"a$i")).toDF("id", "s"))
    Versioned.shallowClone(spark, src, dst)
    // simulate a lost clone: its commit log vanishes, registration stays
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(dst))
    val e = intercept[IllegalArgumentException](Versioned.vacuum(spark, src))
    assert(e.getMessage.contains("unreadable"), e.getMessage)
    // dropClone unblocks
    assert(Versioned.dropClone(spark, src, dst))
    Versioned.vacuum(spark, src)
  }

  test("a table created where a dropped clone lived stages into its own data dir") {
    val src = tmpDir("clone-reuse") + "/t"
    val d = tmpDir("clone-reuse-dst") + "/c"
    Versioned.commit(spark, src,
      (1 to 5).map(i => (i.toLong, s"a$i")).toDF("id", "s"))
    Versioned.shallowClone(spark, src, d)
    // the read resolves (and caches) the clone's data root: <src>/data
    assert(Versioned.read(spark, d).count() == 5L)
    assert(Versioned.dropClone(spark, src, d))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(d))
    // a plain table at the same path: its version 1 must land in <d>/data,
    // where the source's vacuum cannot reach it
    Versioned.commit(spark, d,
      (7 to 9).map(i => (i.toLong, s"n$i")).toDF("id", "s"))
    assert(dirsUnder(s"$d/data").size == 1,
      s"the new table must own its data dir: ${dirsUnder(s"$d/data")}")
    Versioned.vacuum(spark, src, retainLast = 1)
    assert(Versioned.read(spark, d).as[(Long, String)].collect().toSet ==
      (7 to 9).map(i => (i.toLong, s"n$i")).toSet)
  }
}
