package perfbench

import scala.collection.mutable

/** Plain-Scala models of what each engine call must produce, and the
  * checks that compare the engine's output against them. Nothing here
  * calls the engine; each check returns the reasons it rejects, empty when
  * the output holds.
  */
object Model {

  // ---- ETL ---------------------------------------------------------------

  /** The reference's cell chain (`HelperFunction.py:36-41`), in its order:
    * drop `,`, drop `'`, newline to space, backslash to space, `/` to `-`,
    * drop non-ASCII. EP1 then turns the interchange separator `|` into a
    * space, because its writer does not quote.
    */
  def sanitize(s: String): String =
    s.replace(",", "").replace("'", "").replace("\n", " ").replace("\\", " ")
      .replace("/", "-").filter(_ < 128).replace("|", " ")

  /** The table row EP1 → EP2 should land for a workbook row. Integer cells
    * come back in xlrd's float form and parse as doubles.
    */
  def landed(r: EtlRow): TableRow = TableRow(r.key.toDouble, r.orderkey.toDouble,
    r.suppkey.toDouble, r.quantity.toDouble, r.price.toDouble, r.discount / 100.0,
    r.flag, r.shipdate, sanitize(r.comment))

  /** The upsert's per-key pick: the smallest row under the non-key columns,
    * in table order, ascending.
    */
  val nonKeyOrder: Ordering[TableRow] =
    Ordering.by((t: TableRow) => (t.l_orderkey, t.l_suppkey, t.l_quantity,
      t.l_extendedprice, t.l_discount))(
      Ordering.Tuple5(Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering,
        Ordering.Double.TotalOrdering, Ordering.Double.TotalOrdering,
        Ordering.Double.TotalOrdering))
      .orElseBy(t => (t.l_returnflag, t.l_shipdate, t.l_comment))

  /** key → row; matched keys take the batch's pick, others are kept. */
  def upsert(table: mutable.Map[Double, TableRow], batch: Seq[TableRow]): Unit =
    batch.groupBy(_.lkey).foreach { case (k, rs) => table(k) = rs.min(nonKeyOrder) }

  def cents(d: Double): BigDecimal = BigDecimal(java.lang.Double.toString(d))
    .setScale(2, BigDecimal.RoundingMode.HALF_UP)

  def checkTable(model: collection.Map[Double, TableRow], count: Long,
      keys: Seq[Double], priceSum: BigDecimal): Seq[String] = {
    val want = model.valuesIterator.map(r => cents(r.l_extendedprice)).sum
    Seq(
      Option.when(count != model.size)(s"table has $count rows, model ${model.size}"),
      Option.when(keys.toSet != model.keySet)(
        s"table key set differs from the model: ${(keys.toSet -- model.keySet).take(3)} extra, " +
          s"${(model.keySet -- keys.toSet).take(3)} missing"),
      Option.when(priceSum != want)(s"price sum $priceSum, model $want")).flatten
  }

  /** EP3's `revenue_by_nation`, with its per-row `decimal(30,4)` rounding. */
  def revenueByNation(model: Iterable[TableRow], nationOf: Int => Int): Map[String, (Double, Long)] =
    model.groupBy(r => s"NATION_${nationOf(r.l_suppkey.toInt)}").map { case (n, rs) =>
      val sum = rs.iterator.map { r =>
        BigDecimal(java.lang.Double.toString(r.l_extendedprice * (1.0 - r.l_discount)))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP)
      }.sum
      n -> (sum.toDouble, rs.size.toLong)
    }

  def checkRevenue(want: Map[String, (Double, Long)],
      got: Seq[(String, Double, Long)]): Seq[String] = {
    val g = got.map(x => x._1 -> (x._2, x._3)).toMap
    val bad = (want.keySet ++ g.keySet).toSeq.sorted.filter(n => want.get(n) != g.get(n))
    if (got.length != g.size) Seq("EP3 returned a nation twice")
    else bad.take(3).map(n => s"EP3 $n: got ${g.get(n)}, model ${want.get(n)}")
  }

  private val Forbidden = Set(',', '\'', '\n', '\\', '/')

  /** EP1 output: one line per workbook row, `ncols` pipe-separated cells,
    * no sanitize-active character left in any cell.
    */
  def checkCsv(lines: Seq[String], ncols: Int, rowsWritten: Int): Seq[String] = {
    val count = Option.when(lines.length != rowsWritten)(
      s"EP1 wrote ${lines.length} lines for $rowsWritten workbook rows")
    val cells = lines.iterator.flatMap { l =>
      val cs = l.split("\\|", -1)
      if (cs.length != ncols) Some(s"EP1 line has ${cs.length} cells, want $ncols: $l")
      else cs.find(c => c.exists(ch => Forbidden(ch) || ch > 127))
        .map(c => s"EP1 cell keeps a sanitize-active character: $c")
    }.take(3).toSeq
    count.toSeq ++ cells
  }

  /** Retention's keep rule, written out: a name is swept iff it holds both
    * service names and its first 14-digit stamp lies in
    * [today+dayDiff-60 00:00:00, today+dayDiff 23:59:59].
    */
  def swept(name: String, ls: String, df: String, dayDiff: Int,
      today: java.time.LocalDate): Boolean = {
    val stamp = "\\d{14}".r.findFirstIn(name)
    def ymd(d: java.time.LocalDate) = d.getYear * 10000L + d.getMonthValue * 100L + d.getDayOfMonth
    val lo = ymd(today.plusDays(dayDiff - 60L)) * 1000000L
    val hi = ymd(today.plusDays(dayDiff.toLong)) * 1000000L + 235959L
    name.contains(ls) && name.contains(df) && stamp.exists(s => s.toLong >= lo && s.toLong <= hi)
  }

  def checkSurvivors(want: Set[String], got: Set[String]): Seq[String] =
    Option.when(want != got)(
      s"retention survivors differ: extra ${got -- want}, missing ${want -- got}").toSeq

  /** An upsert that reports success must land the model's rows. */
  def checkSideLoad(want: Map[Long, (String, Double)],
      got: Seq[(java.lang.Long, String, Double)]): Seq[String] = {
    val g = got.map(r => Option(r._1).map(_.longValue) -> (r._2, r._3))
    if (g.length == want.size && g.forall { case (k, v) => k.exists(want.get(_).contains(v)) }) Nil
    else Seq(s"bigint upsert landed ${g.mkString(", ")}, model ${want.toSeq.sortBy(_._1).mkString(", ")}")
  }

  // ---- versioned table ---------------------------------------------------

  /** id → live row of the versioned table: the seeded base rows, with the
    * rows a verb rewrote in `overlay`.
    */
  final class Lake(seed: Long, baseRows: Long) {
    private val base = Array.tabulate(baseRows.toInt)(i => Gen.lakeRow(seed, 0, i.toLong))
    private val alive = new java.util.BitSet()
    alive.set(0, baseRows.toInt)
    private val overlay = mutable.HashMap[Long, LakeRow]()
    var count: Long = baseRows
    private var qty = 0L
    private var disc = 0L
    var nextId: Long = baseRows
    base.foreach(add(_, 1))

    private def hund(d: Double): Long = cents(d).bigDecimal.unscaledValue.longValueExact
    private def add(r: LakeRow, sign: Int): Unit = {
      qty += sign * hund(r.l_quantity); disc += sign * hund(r.l_discount)
    }

    def isLive(id: Long): Boolean = id < Int.MaxValue && alive.get(id.toInt)
    def row(id: Long): LakeRow = overlay.getOrElse(id, base(id.toInt))
    def liveIds: Iterator[Long] = Iterator.iterate(alive.nextSetBit(0))(i => alive.nextSetBit(i + 1))
      .takeWhile(_ >= 0).map(_.toLong)

    /** (count, Σ quantity, Σ discount) as exact decimals. */
    def sums: (Long, BigDecimal, BigDecimal) = (count, BigDecimal(qty, 2), BigDecimal(disc, 2))

    def put(r: LakeRow): Unit = {
      if (isLive(r.id)) add(row(r.id), -1) else { alive.set(r.id.toInt); count += 1 }
      overlay(r.id) = r
      add(r, 1)
      nextId = math.max(nextId, r.id + 1)
    }
    def delete(p: LakeRow => Boolean): Unit =
      liveIds.map(row).filter(p).toList.foreach { r =>
        alive.clear(r.id.toInt); count -= 1; add(r, -1); overlay.remove(r.id)
      }
    def update(p: LakeRow => Boolean, f: LakeRow => LakeRow): Unit =
      liveIds.map(row).filter(p).toList.foreach(r => put(f(r)))
    def range(lo: Long, hi: Long): Seq[LakeRow] = (lo to hi).filter(isLive).map(row)
  }

  def checkSums(what: String, want: (Long, BigDecimal, BigDecimal),
      got: (Long, BigDecimal, BigDecimal)): Seq[String] =
    Option.when(want != got)(s"$what: got $got, model $want").toSeq

  def checkRows(what: String, want: Seq[LakeRow], got: Seq[LakeRow]): Seq[String] =
    Option.when(want.sortBy(_.id) != got.sortBy(_.id))(
      s"$what: got ${got.length} rows, model ${want.length}; first difference " +
        s"${want.sortBy(_.id).zipAll(got.sortBy(_.id), null, null).find(x => x._1 != x._2)}").toSeq

  // ---- curation ----------------------------------------------------------

  /** Distinct word 3-grams, as the dedup operators shingle normalized text. */
  def shingles(text: String): Set[String] = {
    val t = text.toLowerCase.trim.split("\\s+")
    if (t.length < 3) Set.empty else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    inter.toDouble / (a.size + b.size - inter).toDouble
  }

  /** Accepted pairs: each recomputed Jaccard equals the program's and is at
    * or above the threshold; and every candidate at or above it was accepted.
    */
  def checkAccepted(shs: Long => Set[String], threshold: Double,
      candidates: Seq[(Long, Long)], accepted: Seq[(Long, Long, Double)]): Seq[String] = {
    val acc = accepted.map(a => (a._1, a._2)).toSet
    val wrong = accepted.iterator.flatMap { case (a, b, j) =>
      val want = jaccard(shs(a), shs(b))
      if (want != j || want < threshold) Some(s"pair ($a,$b): jaccard $j, recomputed $want") else None
    }.take(3).toSeq
    val missed = candidates.iterator.filter(p => !acc.contains(p) &&
      jaccard(shs(p._1), shs(p._2)) >= threshold).take(3).toSeq
    wrong ++ missed.map(p => s"candidate $p clears the threshold but was not accepted")
  }

  /** Union-find over the accepted pairs: node → smallest id in its set. */
  def components(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(n => n -> find(n)).toMap
  }

  def checkComponents(pairs: Seq[(Long, Long)], got: Seq[(Long, Long)]): Seq[String] = {
    val want = components(pairs)
    val g = got.toMap
    if (got.length != g.size) Seq("a node appears in two components")
    else if (want == g) Nil
    else Seq(s"components differ from union-find: ${(want.toSet diff g.toSet).take(3)} " +
      s"vs ${(g.toSet diff want.toSet).take(3)}")
  }

  /** Probability that MinHash LSH with `bands` bands of `rows` rows makes a
    * pair of Jaccard `j` a candidate: 1 - (1 - j^rows)^bands.
    */
  def lshProbability(j: Double, bands: Int, rows: Int): Double =
    1 - math.pow(1 - math.pow(j, rows), bands)

  /** Floor on the share of planted pairs found. A pair of Jaccard `j` is
    * missed with probability `1 - lshProbability(j)`, independently of the other
    * pairs, so the number missed follows the Poisson-binomial law of those
    * probabilities, computed here exactly. The floor allows the fewest
    * misses `m` with P(more than `m` missed) ≤ 1e-6. A normal
    * approximation does not hold here: where 0.05 misses are expected it
    * allows none, and one miss then happens about once in twenty seeds.
    */
  def plantedFloor(js: Seq[Double], bands: Int, rows: Int): Double = {
    // missed(m) = P(exactly m of the pairs folded in so far are missed)
    val missed = js.map(1 - lshProbability(_, bands, rows)).foldLeft(Array(1.0)) { (d, q) =>
      Array.tabulate(d.length + 1)(m =>
        (if (m < d.length) d(m) * (1 - q) else 0.0) + (if (m > 0) d(m - 1) * q else 0.0))
    }
    val allowed = (0 to js.length).find(m => missed.drop(m + 1).sum <= 1e-6).get
    (js.length - allowed).toDouble / js.length
  }

  def checkPlanted(planted: Seq[(Long, Long)], comp: Map[Long, Long], floor: Double): Seq[String] = {
    val found = planted.count { case (a, b) => comp.get(a).exists(c => comp.get(b).contains(c)) }
    val share = found.toDouble / planted.length
    Option.when(share < floor)(f"planted near-duplicates found: $share%.4f, floor $floor%.4f").toSeq
  }

  def cosineTopK(q: (Long, Array[Float]), corpus: Seq[(Long, Array[Float])], k: Int): Seq[Long] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0d; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val nq = math.sqrt(dot(q._2, q._2))
    corpus.iterator.filter(_._1 != q._1).map { case (id, v) =>
      (id, dot(q._2, v) / (nq * math.sqrt(dot(v, v))))
    }.toSeq.sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)
  }

  def checkTopK(want: Map[Long, Seq[Long]], got: Map[Long, Seq[Long]]): Seq[String] =
    want.toSeq.sortBy(_._1).flatMap { case (q, ids) =>
      Option.when(got.get(q).forall(_ != ids))(s"top-k of $q: got ${got.get(q)}, model $ids")
    }.take(3)

  /** BM25 hits: `k` per query (when that many docs match), scores
    * non-increasing, and every hit holds a query term.
    */
  def checkBm25(terms: Seq[String], k: Int, matching: Int,
      hits: Seq[(Long, Double)], text: Long => String): Seq[String] = {
    val n = Option.when(hits.length != math.min(k, matching))(
      s"bm25 ${terms.mkString(",")}: ${hits.length} hits, want ${math.min(k, matching)}")
    val order = Option.when(hits.map(_._2).sliding(2).exists(w => w.length == 2 && w(1) > w(0)))(
      s"bm25 ${terms.mkString(",")}: scores increase")
    val term = hits.find(h => !text(h._1).toLowerCase.split("[^a-z0-9]+").exists(terms.contains))
      .map(h => s"bm25 hit ${h._1} holds no query term")
    n.toSeq ++ order ++ term
  }
}
