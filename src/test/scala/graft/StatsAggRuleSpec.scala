package graft

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col

import graft.ops.Versioned
import graft.plans.GraftStatsAggRule

/** Metadata-only SQL aggregates (VERDICT r16 item 1): an unfiltered
  * `SELECT count(*), min(k), max(k) FROM graft.t` substitutes a one-row
  * LocalRelation answered from the stats manifests — no table scan in
  * the optimized plan at all — while every disqualifying shape falls
  * through to the normal scan with identical answers.
  */
class StatsAggRuleSpec extends SparkSpec {
  import spark.implicits._

  private def mk(prefix: String, stats: Boolean = true): String = {
    val t = tmpDir(prefix) + "/t"
    val df = graft.ops.Layout.sortedByRange(
      spark.range(1, 101).selectExpr("id AS k", "CAST(id AS STRING) AS s"),
      Seq(col("k")), 4)
    if (stats) Versioned.commitWithStats(spark, t, df, Seq("k", "s"))
    else Versioned.commit(spark, t, df)
    t
  }

  private def hasScan(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .collectFirst { case lr: LogicalRelation => lr }.nonEmpty

  test("unfiltered count/min/max substitutes a LocalRelation; scan-free; exact") {
    val t = mk("statsrule-basic")
    val df = spark.sql(
      s"SELECT count(*) AS n, min(k) AS mn, max(k) AS mx, min(s) AS ms " +
        s"FROM graft.`$t`")
    assert(!hasScan(df), s"expected no scan:\n${df.queryExecution.optimizedPlan}")
    assert(df.queryExecution.optimizedPlan
      .collectFirst { case l: LocalRelation => l }.nonEmpty)
    val r = df.first()
    assert(r.getLong(0) == 100L && r.getLong(1) == 1L && r.getLong(2) == 100L &&
      r.getString(3) == "1", s"wrong substituted answer: $r")
    val a = GraftStatsAggRule.lastAnswer(t).get
    assert(a.scanned == 0 && a.referenced > 0,
      s"clean table must answer with zero data files scanned: $a")
    // the answer survives every data file being unreadable — the proof
    // the values came from manifests, not a scan
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$t/data"))
      .filter(f => f.getName.endsWith(".parquet") && !f.getPath.contains("_stats"))
      .foreach { f =>
        val out = new java.io.FileOutputStream(f)
        try out.write("smashed".getBytes) finally out.close()
      }
    val r2 = spark.sql(
      s"SELECT count(*) AS n, min(k) AS mn FROM graft.`$t`").first()
    assert(r2.getLong(0) == 100L && r2.getLong(1) == 1L)
  }

  test("dv-touched files rescan (and only those); deleted extremes drop") {
    val t = mk("statsrule-dv")
    Versioned.deleteWhere(spark, t, col("k") <= 10L)
    val r = spark.sql(
      s"SELECT count(*) AS n, min(k) AS mn, max(k) AS mx FROM graft.`$t`")
      .first()
    assert(r.getLong(0) == 90L && r.getLong(1) == 11L && r.getLong(2) == 100L,
      s"dv-aware substitution must exclude deleted rows: $r")
    val a = GraftStatsAggRule.lastAnswer(t).get
    assert(a.scanned > 0 && a.scanned < a.referenced,
      s"dv phase must rescan only the touched files: $a")
  }

  test("disqualifying shapes fall through to the scan, same answers") {
    val t = mk("statsrule-fall")
    // WHERE clause
    val fil = spark.sql(s"SELECT count(*) AS n FROM graft.`$t` WHERE k > 50")
    assert(hasScan(fil) && fil.first().getLong(0) == 50L)
    // grouping
    val grp = spark.sql(
      s"SELECT k % 2 AS g, count(*) AS n FROM graft.`$t` GROUP BY k % 2")
    assert(hasScan(grp) && grp.count() == 2L)
    // a non-stats aggregate alongside
    val sum = spark.sql(s"SELECT count(*) AS n, sum(k) AS s FROM graft.`$t`")
    assert(hasScan(sum) && sum.first().getLong(1) == 5050L)
    // min over an expression, not a bare column
    val expr = spark.sql(s"SELECT min(k + 1) AS mn FROM graft.`$t`")
    assert(hasScan(expr) && expr.first().getLong(0) == 2L)
    // DISTINCT count
    val dist = spark.sql(s"SELECT count(DISTINCT k) AS n FROM graft.`$t`")
    assert(hasScan(dist) && dist.first().getLong(0) == 100L)
    // no stats manifests → verb returns None → scan
    val t2 = mk("statsrule-nostats", stats = false)
    val ns = spark.sql(s"SELECT count(*) AS n, min(k) AS mn FROM graft.`$t2`")
    assert(hasScan(ns))
    val rns = ns.first()
    assert(rns.getLong(0) == 100L && rns.getLong(1) == 1L)
    // kill switch
    spark.conf.set("spark.graft.statsAgg.enabled", "false")
    try {
      val off = spark.sql(s"SELECT count(*) AS n FROM graft.`$t`")
      assert(hasScan(off) && off.first().getLong(0) == 100L)
    } finally spark.conf.unset("spark.graft.statsAgg.enabled")
  }

  test("DataFrame count() over a graft-table read takes the metadata path too") {
    val t = mk("statsrule-api")
    val df = spark.read.format("graft-table").load(t)
    assert(df.count() == 100L)
    val a = GraftStatsAggRule.lastAnswer(t).get
    assert(a.scanned == 0, s"count() should answer from manifests: $a")
  }

  test("the answer memo never serves a table rebuilt at the same path") {
    // a deleted-and-recreated table REUSES version numbers — the memo
    // key's manifest-stamp component must see the new manifest
    val t = tmpDir("statsrule-rebuild") + "/t"
    Versioned.commitWithStats(spark, t,
      spark.range(1, 101).selectExpr("id AS k"), Seq("k"))
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.`$t`")
      .first().getLong(0) == 100L)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(t))
    Versioned.commitWithStats(spark, t,
      spark.range(1, 51).selectExpr("id AS k"), Seq("k"))
    val r = spark.sql(s"SELECT count(*) AS n, max(k) AS mx FROM graft.`$t`")
      .first()
    assert(r.getLong(0) == 50L && r.getLong(1) == 50L,
      s"the rebuilt table must answer from ITS manifests, not the memo: $r")
  }

  test("time travel pins the substituted version") {
    val t = mk("statsrule-tt")
    Versioned.commitWithStats(spark, t,
      spark.range(101, 201).selectExpr("id AS k", "CAST(id AS STRING) AS s"),
      Seq("k", "s"))
    val head = spark.sql(s"SELECT count(*) AS n, max(k) AS mx FROM graft.`$t`")
    assert(!hasScan(head))
    val rh = head.first()
    assert(rh.getLong(0) == 200L && rh.getLong(1) == 200L)
    val v1 = spark.sql(
      s"SELECT count(*) AS n, max(k) AS mx FROM graft.`$t` VERSION AS OF 1")
    assert(!hasScan(v1))
    val r1 = v1.first()
    assert(r1.getLong(0) == 100L && r1.getLong(1) == 100L,
      s"VERSION AS OF must answer the pinned snapshot's stats: $r1")
  }

  test("readers racing a writer get each pinned version's exact answer") {
    val t = tmpDir("statsrule-race") + "/t"
    def batch(i: Int) = spark.range(i * 100L, i * 100L + 100).toDF("id")
    Versioned.commitWithStats(spark, t, batch(0), Seq("id"))
    val appends = 6
    @volatile var writing = true
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val checked = new java.util.concurrent.atomic.AtomicInteger(0)
    val readers = (0 until 4).map { r =>
      new Thread(() => {
        val rnd = new scala.util.Random(r)
        try while (writing || checked.get < 8) {
          val v = 1L + rnd.nextInt(Versioned.latestVersion(spark, t).get.toInt)
          val got = spark.sql(s"SELECT COUNT(*), MIN(id), MAX(id) " +
            s"FROM graft.`$t` VERSION AS OF $v").first()
          val snap = Versioned.read(spark, t, Some(v))
          val want = snap.agg(org.apache.spark.sql.functions.min("id"),
            org.apache.spark.sql.functions.max("id")).first()
          val n = snap.count()
          if (got.getLong(0) != n || got.getLong(1) != want.getLong(0) ||
              got.getLong(2) != want.getLong(1))
            errs.add(s"v$v: got $got, want count=$n min/max=$want")
          checked.incrementAndGet()
        } catch { case e: Throwable => errs.add(s"reader $r: $e") }
      })
    }
    readers.foreach(_.start())
    try (1 to appends).foreach(i =>
      Versioned.commitWithStats(spark, t, batch(i), Seq("id")))
    finally writing = false
    readers.foreach(_.join())
    assert(errs.isEmpty, errs.toArray.mkString("\n"))
    assert(Versioned.latestVersion(spark, t).contains(appends + 1L))
    assert(checked.get >= 8)
  }
}
