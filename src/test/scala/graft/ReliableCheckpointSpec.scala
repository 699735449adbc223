package graft

import org.apache.spark.graftshim.TestCheckpointShim
import org.apache.spark.sql.functions._

/** VERDICT r12 item 5: the iterative loops (PageRank, connected
  * components, hierarchy closure) truncate lineage through
  * `Checkpoints.stage`, which flips from eager `localCheckpoint`
  * (local posture; executor-loss-UNsafe) to RELIABLE `checkpoint`
  * whenever the SparkContext has a checkpoint dir configured (the
  * cluster posture). This suite pins:
  *
  *  1. result EQUALITY across the two modes for each loop family —
  *     staging is a lineage decision, never a semantics decision;
  *  2. that reliable mode actually WRITES checkpoint files (the
  *     executor-loss-safety is the files' existence);
  *  3. that the mode is fully reversible (the shared spec session must
  *     not leak reliable mode into later suites).
  */
class ReliableCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def withReliable[T](body: String => T): T = {
    val sc = spark.sparkContext
    val saved = TestCheckpointShim.get(sc)
    val dir = tmpDir("reliable-ckpt")
    sc.setCheckpointDir(dir)
    try body(dir)
    finally TestCheckpointShim.set(sc, saved)
  }

  private def checkpointFiles(dir: String): Int = {
    def rec(f: java.io.File): Int =
      if (f.isFile) 1
      else Option(f.listFiles()).map(_.map(rec).sum).getOrElse(0)
    rec(new java.io.File(dir))
  }

  test("Checkpoints.stage: localCheckpoint without a dir, reliable " +
      "checkpoint (files on disk) with one; mode restores cleanly") {
    val sc = spark.sparkContext
    assert(TestCheckpointShim.get(sc).isEmpty,
      "precondition: the shared session has no checkpoint dir")
    val df = spark.range(100).toDF("id")
    val local = graft.ops.Checkpoints.stage(df)
    assert(local.count() == 100L)
    withReliable { dir =>
      val reliable = graft.ops.Checkpoints.stage(df)
      assert(reliable.count() == 100L)
      assert(checkpointFiles(dir) > 0,
        "reliable mode must write checkpoint files")
    }
    assert(TestCheckpointShim.get(sc).isEmpty,
      "checkpoint mode must not leak out of the spec")
  }

  test("PageRank.ranks: identical fixed-point ranks under both modes") {
    val edges = (for {
      i <- 1L to 60L
      j <- Seq((i * 7 + 3) % 60 + 1, (i * 13 + 5) % 60 + 1) if j != i
    } yield (i, j)).distinct.toDF("src", "dst")
    // interval 1 forces a truncation every round — the reliable path runs
    val base = graft.ops.PageRank.ranks(edges, iters = 12,
      checkpointInterval = 1).orderBy($"id")
      .as[(Long, Long)].collect().toSeq
    val rel = withReliable { _ =>
      graft.ops.PageRank.ranks(edges, iters = 12, checkpointInterval = 1)
        .orderBy($"id").as[(Long, Long)].collect().toSeq
    }
    assert(rel == base, "reliable checkpointing must not change ranks")
  }

  test("Dedup.connectedComponents: identical components under both modes") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (20L, 21L),
      (4L, 5L), (5L, 6L), (12L, 13L), (21L, 22L), (22L, 23L), (23L, 24L)
    ).toDF("id_a", "id_b")
    // a negative broadcast threshold keeps this small input on the
    // checkpointed star loop instead of the driver's union-find
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      val base = graft.llm.Dedup.connectedComponents(pairs)
        .orderBy($"id").as[(Long, Long)].collect().toSeq
      val rel = withReliable { _ =>
        graft.llm.Dedup.connectedComponents(pairs)
          .orderBy($"id").as[(Long, Long)].collect().toSeq
      }
      assert(rel == base,
        "reliable checkpointing must not change component labels")
    }
  }

  test("Hierarchy.ancestorClosure: identical closure under both modes") {
    // a depth-9 chain plus a bushy subtree — multiple doubling rounds
    val edges = ((2L to 10L).map(i => (i, i - 1)) ++
      Seq((20L, 3L), (21L, 3L), (22L, 20L), (23L, 20L))).toDF("child", "parent")
    val base = graft.ops.Hierarchy.ancestorClosure(edges, "child", "parent")
      .orderBy($"node", $"anc").as[(Long, Long, Long)].collect().toSeq
    val rel = withReliable { _ =>
      graft.ops.Hierarchy.ancestorClosure(edges, "child", "parent")
        .orderBy($"node", $"anc").as[(Long, Long, Long)].collect().toSeq
    }
    assert(rel == base, "reliable checkpointing must not change the closure")
  }
}
