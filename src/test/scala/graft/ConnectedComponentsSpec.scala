package graft

import graft.llm.Dedup
import org.apache.spark.sql.{DataFrame, Row}

/** `Dedup.connectedComponents` has two plans for one answer: union-find
  * on the driver when the staged edge set is broadcast-sized, and the
  * distributed large-star/small-star loop otherwise (or whenever
  * `spark.sql.autoBroadcastJoinThreshold` is negative). This suite runs
  * seeded random graphs through both and pins equal rows and an equal
  * schema, then pins the switch itself at its byte boundary, telling
  * the paths apart by the Spark jobs they start.
  */
class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** A seeded mix of chains, stars, cliques and isolated self-pairs over
    * shuffled ids (so a component's minimum sits anywhere in its shape),
    * plus duplicated and reversed copies of some pairs; `nulls` adds
    * pairs with one or both ids null.
    */
  private def graph(seed: Long, nulls: Boolean): Seq[(Option[Long], Option[Long])] = {
    val rnd = new scala.util.Random(seed)
    var next = 0L
    val pairs = (0 until 3 + rnd.nextInt(5)).flatMap { _ =>
      val ids = rnd.shuffle((0 until 2 + rnd.nextInt(9)).map { _ =>
        next += 1 + rnd.nextInt(3); next
      })
      rnd.nextInt(4) match {
        case 0 => ids.sliding(2).map(w => (w(0), w(1))).toSeq
        case 1 => ids.tail.map(leaf => (ids.head, leaf))
        case 2 => ids.combinations(2).map(c => (c(0), c(1))).toSeq
        case _ => ids.map(i => (i, i))
      }
    }
    val copies = pairs.filter(_ => rnd.nextInt(4) == 0)
      .map { case (a, b) => if (rnd.nextBoolean()) (b, a) else (a, b) }
    val all = rnd.shuffle(pairs ++ copies).map { case (a, b) => (Option(a), Option(b)) }
    if (!nulls) all
    else all ++ Seq((None, Some(pairs.head._1)), (Some(next + 1), None), (None, None))
  }

  /** The same graph with long, int and string ids. String ids mix ASCII,
    * a BMP character above the surrogate range and a supplementary
    * character, whose UTF-8 order (Spark's) differs from Java's UTF-16
    * `String` order.
    */
  private def frames(g: Seq[(Option[Long], Option[Long])], nulls: Boolean): Seq[(String, DataFrame)] = {
    val prefixes = Seq("a", "Ａ", "😀", "z")
    def str(i: Long): String = prefixes((i % prefixes.size).toInt) + i
    val longs =
      if (nulls) g.toDF("id_a", "id_b")
      else g.map { case (a, b) => (a.get, b.get) }.toDF("id_a", "id_b")
    val ints =
      if (nulls) g.map { case (a, b) => (a.map(_.toInt), b.map(_.toInt)) }.toDF("id_a", "id_b")
      else g.map { case (a, b) => (a.get.toInt, b.get.toInt) }.toDF("id_a", "id_b")
    val strings = g.map { case (a, b) => (a.map(str).orNull, b.map(str).orNull) }
      .toDF("id_a", "id_b")
    Seq("long" -> longs, "int" -> ints, "string" -> strings)
  }

  private def rowsOf(df: DataFrame): Set[Row] = {
    val rows = df.collect()
    assert(rows.length == rows.toSet.size, "one row per id")
    rows.toSet
  }

  test("driver path and star loop: equal rows and schema on seeded random graphs") {
    for (seed <- 1L to 12L; nulls <- Seq(false, true);
         (kind, pairs) <- frames(graph(seed, nulls), nulls)) {
      val driver = Dedup.connectedComponents(pairs)
      val loop = withConf(Threshold, "-1")(Dedup.connectedComponents(pairs))
      val clue = s"seed $seed, $kind ids, nulls=$nulls"
      assert(driver.schema == loop.schema, clue)
      assert(rowsOf(driver) == rowsOf(loop), clue)
    }
  }

  test("empty input: no rows on either path, same schema") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val driver = Dedup.connectedComponents(empty)
    val loop = withConf(Threshold, "-1")(Dedup.connectedComponents(empty))
    assert(driver.schema == loop.schema)
    assert(driver.count() == 0L && loop.count() == 0L)
  }

  test("a null id yields (null, null) and joins no component") {
    val pairs = Seq[(Option[Long], Option[Long])](
      (Some(2L), Some(1L)), (None, Some(2L)), (Some(5L), None)).toDF("id_a", "id_b")
    val got = rowsOf(Dedup.connectedComponents(pairs))
    assert(got == Set(Row(1L, 1L), Row(2L, 1L), Row(5L, 5L), Row(null, null)))
  }

  test("the switch sits at rows x row size == threshold: at it the driver, " +
      "one byte under it the loop") {
    val chain = (1L until 20L).map(i => (i + 1, i))
    val pairs = (chain ++ chain.take(3)).toDF("id_a", "id_b")
    // 19 distinct canonical pairs of two longs (16 bytes a row)
    val bytes = 19L * 16L
    val (atBound, driverJobs) =
      withConf(Threshold, bytes.toString)(jobsDuring(Dedup.connectedComponents(pairs)))
    val (under, loopJobs) =
      withConf(Threshold, (bytes - 1).toString)(jobsDuring(Dedup.connectedComponents(pairs)))
    // staging + one collect; the loop adds round jobs until its fixpoint
    assert(driverJobs <= 3, s"driver path started $driverJobs jobs")
    assert(loopJobs > driverJobs + 2, s"loop started $loopJobs jobs, driver $driverJobs")
    assert(rowsOf(atBound) == rowsOf(under))
    assert(rowsOf(atBound) == (1L to 20L).map(i => Row(i, 1L)).toSet)
  }
}
