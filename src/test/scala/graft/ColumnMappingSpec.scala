package graft

import graft.ops.Versioned

/** Column-mapping + table-feature laws: rename and drop are metadata-
  * only (zero files rewrite), reads project the manifest's own logical
  * schema per version, appends land under physical names, gated verbs
  * refuse loudly, unknown features refuse at readManifest, and a
  * compact materializes the logical view dropping the feature.
  */
class ColumnMappingSpec extends SparkSpec {

  import spark.implicits._

  private def dataFiles(t: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$t/data")).filter(_.getName.endsWith(".parquet"))
      .map(f => s"${f.getPath}:${f.length()}").toSet
  }

  test("rename is metadata-only; reads are logical per version; appends land physical") {
    val t = tmpDir("colmap") + "/t"
    Versioned.commit(spark, t, Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "s", "v"))
    val before = dataFiles(t)
    val rv = Versioned.renameColumn(spark, t, "v", "amount")
    assert(rv == 2L && dataFiles(t) == before,
      "rename must write zero data files")
    // latest reads the new name; time travel shows the old
    assert(Versioned.read(spark, t).columns.toSeq == Seq("id", "s", "amount"))
    assert(Versioned.read(spark, t, Some(1L)).columns.toSeq == Seq("id", "s", "v"))
    assert(Versioned.read(spark, t).select($"amount").collect()
      .map(_.getLong(0)).toSet == Set(10L, 20L))
    // an append speaks the LOGICAL name and lands under the PHYSICAL one
    Versioned.commit(spark, t, Seq((3L, "c", 30L)).toDF("id", "s", "amount"))
    assert(Versioned.read(spark, t).select($"amount").collect()
      .map(_.getLong(0)).toSet == Set(10L, 20L, 30L),
      "old and new dirs must read as one logical column")
    val newDir = (dataFiles(t) -- before).map(_.split(':').head.split('/').dropRight(1).last)
    val raw = spark.read.parquet(s"$t/data/${newDir.head}")
    assert(raw.columns.contains("v") && !raw.columns.contains("amount"),
      s"the new dir must hold the physical name, got ${raw.columns.toSeq}")
    // rename again: amount -> total, physical stays v
    Versioned.renameColumn(spark, t, "amount", "total")
    assert(Versioned.read(spark, t).select($"total").collect()
      .map(_.getLong(0)).toSet == Set(10L, 20L, 30L))
  }

  test("drop hides the column logically; bytes remain until a rewrite") {
    val t = tmpDir("colmap-drop") + "/t"
    Versioned.commit(spark, t, Seq((1L, "x", 5L)).toDF("id", "s", "v"))
    Versioned.dropColumn(spark, t, "s")
    assert(Versioned.read(spark, t).columns.toSeq == Seq("id", "v"))
    assert(Versioned.read(spark, t, Some(1L)).columns.toSeq == Seq("id", "s", "v"),
      "time travel must still show the dropped column")
    // physical bytes still on disk
    val dirs = new java.io.File(s"$t/data").listFiles().map(_.getPath)
    assert(spark.read.parquet(dirs.head).columns.contains("s"))
    // appending without the dropped column works; re-reads stay clean
    Versioned.commit(spark, t, Seq((2L, 7L)).toDF("id", "v"))
    assert(Versioned.read(spark, t).collect().map(r =>
      (r.getLong(0), r.getLong(1))).toSet == Set((1L, 5L), (2L, 7L)))
    intercept[IllegalArgumentException](Versioned.dropColumn(spark, t, "nope"))
  }

  test("drop-then-re-add: the new column gets a fresh physical name; old bytes stay dead") {
    // ADVICE r11 high: without unique physical names, appending a NEW
    // column that reuses a dropped column's name writes under the dropped
    // physical name, and mergeSchema reads RESURRECT the dropped bytes
    // for pre-drop rows (showing old deleted values instead of NULL).
    val t = tmpDir("colmap-readd") + "/t"
    Versioned.commit(spark, t, Seq((1L, "secret", 5L)).toDF("id", "s", "v"))
    Versioned.dropColumn(spark, t, "s")
    // re-add a column with the dropped name — a fresh logical column
    // (lands LAST in the union-ordered schema: parent fields first)
    Versioned.commit(spark, t, Seq((2L, "new", 7L)).toDF("id", "s", "v"))
    val got = Versioned.read(spark, t).select($"id", $"s").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)))).toMap
    assert(got(2L) == Some("new"), s"the re-added column must read: $got")
    assert(got(1L).isEmpty,
      s"pre-drop rows must be NULL in the re-added column — '${got(1L)}' " +
        "means the dropped bytes resurrected")
    // the new dir carries a MINTED physical name, not the dropped one
    val m = graft.ops.Versioned
    val dirs = new java.io.File(s"$t/data").listFiles().map(_.getPath).sorted
    val newDirCols = spark.read.parquet(dirs.last).columns.toSet
    assert(!newDirCols.contains("s") && newDirCols.exists(_.startsWith("s_p")),
      s"re-added column must land under a minted physical name: $newDirCols")
    m: Unit
    // time travel before the drop still shows the ORIGINAL column values
    assert(Versioned.read(spark, t, Some(1L)).select($"s").collect()
      .map(_.getString(0)).toSeq == Seq("secret"))
  }

  test("gated verbs refuse on mapped tables; compact materializes the feature away") {
    val t = tmpDir("colmap-gate") + "/t"
    Versioned.commit(spark, t, (1 to 10).map(i => (i.toLong, s"r$i", i.toLong))
      .toDF("id", "s", "v"))
    Versioned.renameColumn(spark, t, "v", "amount")
    val e = intercept[IllegalArgumentException](
      Versioned.deleteWhere(spark, t, $"id" === 1L))
    assert(e.getMessage.contains("does not support table features"))
    intercept[IllegalArgumentException](
      Versioned.updateWhere(spark, t, $"id" === 1L,
        Map("amount" -> org.apache.spark.sql.functions.lit(0L))))
    intercept[IllegalArgumentException](
      Versioned.statsAgg(spark, t, "amount"))
    // branch is NO LONGER gated (round-12 composition): a fork of a
    // mapped table clones the feature and reads the same logical view
    val dev = Versioned.branch(spark, t, "dev")
    assert(Versioned.read(spark, dev).columns.toSeq == Seq("id", "s", "amount"))
    // compact rewrites through the logical view: the feature drops and
    // the full verb surface returns
    Versioned.compact(spark, t, numFiles = 2)
    assert(Versioned.read(spark, t).columns.toSeq == Seq("id", "s", "amount"))
    Versioned.deleteWhere(spark, t, $"id" === 1L)
    assert(Versioned.read(spark, t).count() == 9L,
      "after the materializing rewrite the gated verbs work again")
  }

  test("renames refuse on constraint-bearing tables and colliding names") {
    val t = tmpDir("colmap-refuse") + "/t"
    Versioned.commit(spark, t, Seq((1L, 5L)).toDF("id", "v"))
    Versioned.addConstraint(spark, t, "v_pos", "v > 0")
    val e = intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, t, "v", "amount"))
    assert(e.getMessage.contains("CHECK constraints"))
    Versioned.dropConstraint(spark, t, "v_pos")
    intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, t, "v", "id"))
    intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, t, "nope", "x"))
  }

  test("an append omitting a column cannot shrink a mapped table's " +
      "logical view") {
    val t = tmpDir("colmap-shrink") + "/t"
    Versioned.commit(spark, t, Seq((1L, "a", 5L)).toDF("id", "s", "v"))
    Versioned.renameColumn(spark, t, "v", "amount")
    // the append speaks only (id, amount) — column s must survive
    Versioned.commit(spark, t, Seq((2L, 7L)).toDF("id", "amount"))
    val got = Versioned.read(spark, t)
    assert(got.columns.toSeq == Seq("id", "s", "amount"),
      s"the logical view must keep every parent column: ${got.columns.toSeq}")
    assert(got.collect().map(r =>
      (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSet ==
      Set((1L, Some("a"), 5L), (2L, None, 7L)),
      "the omitting append's rows null-fill the kept column")
  }

  test("branch + rename: a branch-side rename three-way-merges onto an " +
      "appended root; the merged table reads the renamed logical view") {
    val t = tmpDir("colmap-b3") + "/t"
    Versioned.commit(spark, t,
      (1 to 4).map(i => (i.toLong, i * 10L)).toDF("id", "v"))
    val bt = Versioned.branch(spark, t, "exp")
    Versioned.renameColumn(spark, bt, "v", "amount")
    // the branch appends under the LOGICAL name; bytes land physical
    Versioned.commit(spark, bt, Seq((5L, 50L)).toDF("id", "amount"))
    // the root advances disjointly, still speaking the OLD name
    Versioned.commit(spark, t, Seq((9L, 90L)).toDF("id", "v"))
    val mv = Versioned.merge3(spark, bt)
    val got = Versioned.read(spark, t, Some(mv))
    assert(got.columns.toSeq == Seq("id", "amount"),
      s"the branch's rename must survive the merge: ${got.columns.toSeq}")
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L), (9L, 90L)),
      "both sides' rows must read through the merged mapping")
    // pre-merge root history stays readable under ITS names
    assert(Versioned.read(spark, t, Some(2L)).columns.toSeq == Seq("id", "v"))
  }

  test("branch + rename conflict: both sides renaming one column " +
      "differently refuses loudly") {
    val t = tmpDir("colmap-b3-conflict") + "/t"
    Versioned.commit(spark, t, Seq((1L, 10L)).toDF("id", "v"))
    val bt = Versioned.branch(spark, t, "exp")
    Versioned.renameColumn(spark, bt, "v", "amount")
    Versioned.renameColumn(spark, t, "v", "total")
    val e = intercept[IllegalStateException](Versioned.merge3(spark, bt))
    assert(e.getMessage.contains("renamed column"),
      s"conflicting renames must refuse: ${e.getMessage}")
  }

  test("branch + dv + merge3: branch-side deletes survive the merge onto " +
      "an appended root") {
    val t = tmpDir("dv-b3") + "/t"
    Versioned.commit(spark, t,
      (1 to 10).map(i => (i.toLong, s"r$i")).toDF("id", "s"))
    val bt = Versioned.branch(spark, t, "exp")
    Versioned.deleteWhere(spark, bt, $"id" % 2L === 0L)
    Versioned.commit(spark, t, Seq((11L, "r11"), (12L, "r12")).toDF("id", "s"))
    val mv = Versioned.merge3(spark, bt)
    val got = Versioned.read(spark, t, Some(mv)).collect()
      .map(_.getLong(0)).toSet
    assert(got == Set(1L, 3L, 5L, 7L, 9L, 11L, 12L),
      s"branch dv must apply and root appends must survive: $got")
  }

  test("promote after colmap: a fast-forwarded branch carries its rename " +
      "onto the root") {
    val t = tmpDir("colmap-promote") + "/t"
    Versioned.commit(spark, t, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    val bt = Versioned.branch(spark, t, "exp")
    Versioned.renameColumn(spark, bt, "v", "amount")
    val rv = Versioned.promote(spark, bt)
    val got = Versioned.read(spark, t, Some(rv))
    assert(got.columns.toSeq == Seq("id", "amount"),
      s"promote must carry the branch's column mapping: ${got.columns.toSeq}")
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 10L), (2L, 20L)))
  }

  test("dropConstraint after merge3 keeps a branch rename's column mapping") {
    val t = tmpDir("colmap-dropcons") + "/t"
    Versioned.commit(spark, t, Seq((1L, 10L), (2L, 20L)).toDF("id", "v"))
    val bt = Versioned.branch(spark, t, "exp")
    Versioned.renameColumn(spark, bt, "v", "amount")
    Versioned.addConstraint(spark, t, "pos", "id > 0")
    val mv = Versioned.merge3(spark, bt)
    val dv = Versioned.dropConstraint(spark, t, "pos")
    val m = Versioned.readManifest(spark, t, dv)
    assert(m.features == Set("column-mapping") && m.colmap == Map("amount" -> "v"),
      s"dropConstraint must carry the mapping forward: ${m.features} ${m.colmap}")
    assert(m.constraints.isEmpty)
    def pairs(v: Long) = Versioned.read(spark, t, Some(v)).collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(pairs(mv) == Set((1L, Some(10L)), (2L, Some(20L))))
    assert(pairs(dv) == Set((1L, Some(10L)), (2L, Some(20L))),
      "the renamed column must not read NULL after the constraint drop")
  }

  test("a manifest naming an unknown feature refuses at every verb") {
    val t = tmpDir("colmap-unknown") + "/t"
    Versioned.commit(spark, t, Seq((1L, "a")).toDF("id", "s"))
    // hand-forge a manifest that requires a feature this build lacks
    val p = java.nio.file.Paths.get(s"$t/_commits/000002.manifest")
    val v1 = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$t/_commits/000001.manifest")), "UTF-8")
    val forged = v1.linesIterator.toSeq match {
      case op +: rest => (op +: ("feature=quantum-vacuum" +: rest)).mkString("\n")
    }
    java.nio.file.Files.write(p, forged.getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](Versioned.read(spark, t))
    assert(e.getMessage.contains("quantum-vacuum") &&
      e.getMessage.contains("does not support"),
      s"unknown features must refuse loudly, got: ${e.getMessage}")
    // the PRE-feature version still reads
    assert(Versioned.read(spark, t, Some(1L)).count() == 1L)
  }
}
