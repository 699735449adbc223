package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Each checker must reject a corrupted result and accept the right one. */
class CheckersSpec extends AnyFunSuite {

  private def row(k: Double, price: Double, comment: String = "c") =
    TableRow(k, 1.0, 2.0, 3.0, price, 0.05, "A", "1995-01-01", comment)

  private val table = scala.collection.mutable.HashMap(
    1.0 -> row(1.0, 10.25), 2.0 -> row(2.0, 20.5), 3.0 -> row(3.0, 30.75))
  private val priceSum = BigDecimal("61.50")

  test("ETL table check: exact result passes") {
    assert(Model.checkTable(table, 3, Seq(1.0, 2.0, 3.0), priceSum).isEmpty)
  }

  test("ETL table check rejects one row dropped") {
    assert(Model.checkTable(table, 2, Seq(1.0, 3.0), BigDecimal("41.00")).nonEmpty)
  }

  test("ETL table check rejects a price sum off by one cent") {
    assert(Model.checkTable(table, 3, Seq(1.0, 2.0, 3.0), priceSum + BigDecimal("0.01")).nonEmpty)
  }

  test("ETL upsert model keeps the smallest row per key and untouched keys") {
    val t = scala.collection.mutable.HashMap(7.0 -> row(7.0, 1.0), 8.0 -> row(8.0, 2.0))
    Model.upsert(t, Seq(row(7.0, 5.0, "b"), row(7.0, 4.0, "z"), row(9.0, 3.0)))
    assert(t(7.0) == row(7.0, 4.0, "z") && t(8.0) == row(8.0, 2.0) && t(9.0) == row(9.0, 3.0))
  }

  test("EP3 check rejects a revenue off by one unit in the last place and a count off by one") {
    val want = Map("NATION_1" -> (100.5, 2L))
    assert(Model.checkRevenue(want, Seq(("NATION_1", 100.5, 2L))).isEmpty)
    assert(Model.checkRevenue(want, Seq(("NATION_1", Math.nextUp(100.5), 2L))).nonEmpty)
    assert(Model.checkRevenue(want, Seq(("NATION_1", 100.5, 3L))).nonEmpty)
  }

  test("sanitize follows the reference chain") {
    assert(Model.sanitize("a, b'c\nd\\e/f|g été 中") == "a bc d e-f g t ")
  }

  test("CSV check rejects a sanitize-active character left in a cell") {
    val ok = "1.0|2.0|x y"
    assert(Model.checkCsv(Seq(ok), 3, 1).isEmpty)
    Seq(",", "'", "\\", "/", "é").foreach { ch =>
      assert(Model.checkCsv(Seq(s"1.0|2.0|x${ch}y"), 3, 1).nonEmpty, s"kept $ch")
    }
    assert(Model.checkCsv(Seq("1.0|2.0|x|y"), 3, 1).nonEmpty, "kept |")
    assert(Model.checkCsv(Seq("1.0|2.0|x", "y"), 3, 1).nonEmpty, "kept a newline")
  }

  test("CSV check rejects a missing line") {
    assert(Model.checkCsv(Seq("1.0|2.0|x"), 3, 2).nonEmpty)
  }

  test("retention model sweeps only in-window stamps of matching names") {
    val today = java.time.LocalDate.of(2024, 6, 30)
    assert(Model.swept("ls_df_20240601120000_b1", "ls", "df", -5, today))
    assert(Model.swept("ls_df_20240426000000_b1", "ls", "df", -5, today)) // first second of the window
    assert(!Model.swept("ls_df_20240425235959_b1", "ls", "df", -5, today))
    assert(!Model.swept("ls_df_20240626000000_b1", "ls", "df", -5, today))
    assert(!Model.swept("ls_xx_20240601120000_b1", "ls", "df", -5, today))
    assert(Model.checkSurvivors(Set("a"), Set("a", "b")).nonEmpty)
  }

  test("side-load check rejects NULL keys") {
    val want = Map(1L -> ("x", 1.5), 2L -> ("y", 2.5), 9L -> ("keep", 9.5))
    val good = Seq[(java.lang.Long, String, Double)]((1L, "x", 1.5), (2L, "y", 2.5), (9L, "keep", 9.5))
    assert(Model.checkSideLoad(want, good).isEmpty)
    val landed = Seq[(java.lang.Long, String, Double)]((null, "x", 1.5), (1L, "old", 0.5), (9L, "keep", 9.5))
    assert(Model.checkSideLoad(want, landed).nonEmpty)
  }

  test("lake model tracks merge, delete and update exactly") {
    val m = new Model.Lake(seed = 3, baseRows = 50)
    val (n0, q0, _) = m.sums
    val r = m.row(4)
    m.put(r.copy(l_quantity = r.l_quantity + 2))
    m.delete(_.id == 5)
    m.update(_.id == 6, x => x.copy(l_discount = 0.01))
    val (n1, q1, _) = m.sums
    assert(n1 == n0 - 1)
    assert(q1 == q0 + 2 - BigDecimal(Gen.lakeRow(3, 0, 5).l_quantity))
    assert(m.range(4, 6).map(_.id) == Seq(4L, 6L) && m.row(6).l_discount == 0.01)
  }

  test("lake sum check rejects a sum off by one cent and a missing row") {
    val want = (10L, BigDecimal("5.00"), BigDecimal("0.10"))
    assert(Model.checkSums("x", want, want).isEmpty)
    assert(Model.checkSums("x", want, (10L, BigDecimal("5.01"), BigDecimal("0.10"))).nonEmpty)
    assert(Model.checkSums("x", want, (9L, BigDecimal("5.00"), BigDecimal("0.10"))).nonEmpty)
    val rows = (0L until 3L).map(Gen.lakeRow(1, 0, _))
    assert(Model.checkRows("x", rows, rows.reverse).isEmpty)
    assert(Model.checkRows("x", rows, rows.drop(1)).nonEmpty)
  }

  test("accepted-pair check rejects a pair below the threshold and a missed candidate") {
    val texts = Map(1L -> "a b c d e f", 2L -> "a b c d e g", 3L -> "x y z w v u")
    val shs = (id: Long) => Model.shingles(texts(id))
    val j12 = Model.jaccard(shs(1), shs(2))
    assert(Model.checkAccepted(shs, 0.5, Seq((1L, 2L), (1L, 3L)), Seq((1L, 2L, j12))).isEmpty)
    assert(Model.checkAccepted(shs, 0.5, Seq((1L, 3L)), Seq((1L, 3L, 0.9))).nonEmpty)
    assert(Model.checkAccepted(shs, 0.5, Seq((1L, 2L)), Nil).nonEmpty)
  }

  test("component check rejects a component split in two") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L))
    val right = Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L)
    assert(Model.checkComponents(pairs, right).isEmpty)
    val split = Seq(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L, 7L -> 7L, 8L -> 7L)
    assert(Model.checkComponents(pairs, split).nonEmpty)
  }

  test("planted floor follows the LSH probability and rejects a low find rate") {
    assert(math.abs(Model.lshProbability(0.5, 4, 4) - (1 - math.pow(1 - 0.0625, 4))) < 1e-12)
    val planted = (0L until 100L).map(i => (2 * i, 2 * i + 1))
    val floor = Model.plantedFloor(Seq.fill(100)(0.9), 4, 4)
    val all = planted.flatMap { case (a, b) => Seq(a -> a, b -> a) }.toMap
    assert(Model.checkPlanted(planted, all, floor).isEmpty)
    val half = planted.take(50).flatMap { case (a, b) => Seq(a -> a, b -> a) }.toMap
    assert(Model.checkPlanted(planted, half, floor).nonEmpty)
    // Nearly every pair is a sure find, so 0.06 misses are expected; one miss
    // (a 6 % event) passes, four (below 1e-6) do not.
    val js = Seq.fill(50)(0.99) ++ Seq.fill(3)(8.0 / 9)
    val sure = Model.plantedFloor(js, 4, 4)
    val pairs = planted.take(53)
    def foundAllBut(k: Int) = pairs.drop(k).flatMap { case (a, b) => Seq(a -> a, b -> a) }.toMap
    assert(Model.checkPlanted(pairs, foundAllBut(1), sure).isEmpty)
    assert(Model.checkPlanted(pairs, foundAllBut(4), sure).nonEmpty)
  }

  test("top-k check rejects a swapped id") {
    val corpus = Gen.embeddings(5, 50, 8)
    val want = Map(0L -> Model.cosineTopK(corpus.head, corpus, 5))
    assert(want(0L).length == 5 && !want(0L).contains(0L))
    assert(Model.checkTopK(want, want).isEmpty)
    val w = want(0L)
    assert(Model.checkTopK(want, Map(0L -> (w(1) +: w(0) +: w.drop(2)))).nonEmpty)
    assert(Model.checkTopK(want, Map(0L -> (w.dropRight(1) :+ 49L).distinct)).nonEmpty)
  }

  test("bm25 check rejects increasing scores, a hit without a query term and a short list") {
    val text = Map(1L -> "kalo mi", 2L -> "kalo nu", 3L -> "pe ra")
    assert(Model.checkBm25(Seq("kalo"), 2, 2, Seq(1L -> 2.0, 2L -> 1.0), text).isEmpty)
    assert(Model.checkBm25(Seq("kalo"), 2, 2, Seq(1L -> 1.0, 2L -> 2.0), text).nonEmpty)
    assert(Model.checkBm25(Seq("kalo"), 2, 2, Seq(1L -> 2.0, 3L -> 1.0), text).nonEmpty)
    assert(Model.checkBm25(Seq("kalo"), 2, 2, Seq(1L -> 2.0), text).nonEmpty)
  }
}
