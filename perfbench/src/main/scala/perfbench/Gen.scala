package perfbench

import java.util.SplittableRandom

/** Seeded input generators. The same seed gives the same inputs; the
  * engine only ever sees what these produce.
  */
object Gen {

  /** SplitMix64 finalizer: a stateless hash, so executors and the driver
    * derive identical rows from (seed, id) without shipping data.
    */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def field(seed: Long, id: Long, f: Int, mod: Long): Long =
    java.lang.Long.remainderUnsigned(mix(mix(seed * 31L + f) ^ id), mod)

  private val Flags = Array("A", "N", "R")

  def date(days: Long): String = java.time.LocalDate.of(1992, 1, 1).plusDays(days).toString

  // ---- lineitem-shaped rows for the versioned table --------------------

  /** One lineitem-shaped row; `salt` gives a different image of the same id
    * (the new row an update writes).
    */
  def lakeRow(seed: Long, salt: Int, id: Long): LakeRow = {
    val s = seed * 1000003L + salt
    LakeRow(id,
      l_orderkey = field(s, id, 1, 150000L),
      l_partkey = field(s, id, 2, 20000L),
      l_suppkey = field(s, id, 3, 1000L),
      l_quantity = (1 + field(s, id, 4, 50L)).toDouble,
      l_extendedprice = (90000L + field(s, id, 5, 10410000L)) / 100.0,
      l_discount = field(s, id, 6, 11L) / 100.0,
      l_tax = field(s, id, 7, 9L) / 100.0,
      l_returnflag = Flags(field(s, id, 8, 3L).toInt),
      l_shipdate = date(field(s, id, 9, 2500L)))
  }

  // ---- Excel batches for the ETL pipeline -------------------------------

  private val Words = Array("alpha", "bravo", "carton", "deliver", "express",
    "fragile", "ground", "handle", "invoice", "jumbo", "keep", "ledger")
  /** Every character the sanitize chain acts on, plus the interchange
    * separator and non-ASCII text. No quote character: the pipe-CSV reader
    * treats `"` as a quote, and the reference's chain does not remove it.
    */
  private val Seps = Array(" ", ", ", "'", "\n", "\\", "/", "|", " été ",
    "ü", " 中 ", "’", " - ")

  def comment(r: SplittableRandom): String = {
    val n = 2 + r.nextInt(5)
    val sb = new StringBuilder(Words(r.nextInt(Words.length)))
    (1 until n).foreach { _ =>
      sb.append(Seps(r.nextInt(Seps.length))).append(Words(r.nextInt(Words.length)))
    }
    sb.toString
  }

  /** A workbook row as the text cells EP1 reads. */
  def etlRow(r: SplittableRandom, key: Long): EtlRow = EtlRow(
    key = key,
    orderkey = r.nextLong(150000L),
    suppkey = r.nextLong(1000L),
    quantity = 1 + r.nextInt(50),
    priceCents = 90000L + r.nextLong(10410000L),
    discount = r.nextInt(11),
    flag = Flags(r.nextInt(3)),
    shipdate = date(r.nextLong(2500L)),
    comment = comment(r))

  /** One batch: about half the rows update keys already in the table, half
    * insert new keys, and a few repeat a key already in the batch with a
    * different row, so the upsert's per-key pick is exercised.
    */
  def etlBatch(r: SplittableRandom, n: Int, existing: collection.IndexedSeq[Long],
      nextKey: () => Long): IndexedSeq[EtlRow] = {
    val out = scala.collection.mutable.ArrayBuffer[EtlRow]()
    while (out.length < n) {
      val u = r.nextDouble()
      val key =
        if (u < 0.05 && out.nonEmpty) out(r.nextInt(out.length)).key
        else if (u < 0.5) existing(r.nextInt(existing.length))
        else nextKey()
      out += etlRow(r, key)
    }
    out.toIndexedSeq
  }

  // ---- static tables for the registry query -----------------------------

  def supplierNation(seed: Long): Array[Int] =
    Array.tabulate(1000)(s => field(seed, s.toLong, 11, 25L).toInt)

  // ---- curation corpus ---------------------------------------------------

  private val Syll = Array("ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "ve", "zu",
    "ba", "de", "fi", "go", "hu", "ja")

  /** Vocabulary word `i`: letters only, one Retrieval/TextOps token each. */
  def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do { sb.append(Syll(x % Syll.length)); x /= Syll.length } while (x > 0)
    sb.append(Syll((i * 7 + 3) % Syll.length)).toString
  }

  /** The make-up of sf0.1 `documents`: each word drawn uniformly from 30
    * words, 10 to 100 words a document (uniform), and 5 % of the documents
    * near-duplicates, an earlier document with the word `dup` appended.
    */
  val Vocabulary = 30
  val MinWords = 10
  val MaxWords = 100
  val DupShare = 0.05
  val DupWord = "dup"

  /** `n` documents of that make-up. Returns the docs (id, text) and the
    * planted (source id, near-duplicate id) pairs.
    */
  def corpus(seed: Long, n: Int): (IndexedSeq[(Long, String)], IndexedSeq[(Long, Long)]) = {
    val r = new SplittableRandom(seed ^ 0x5eedL)
    val docs = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    val sources = scala.collection.mutable.ArrayBuffer[Long]()
    val planted = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    (0 until n).foreach { i =>
      if (sources.nonEmpty && r.nextDouble() < DupShare) {
        val src = sources(r.nextInt(sources.length))
        planted += src -> i.toLong
        docs += i.toLong -> s"${docs(src.toInt)._2} $DupWord"
      } else {
        sources += i.toLong
        docs += i.toLong -> Array.fill(MinWords + r.nextInt(MaxWords - MinWords + 1))(
          word(r.nextInt(Vocabulary))).mkString(" ")
      }
    }
    (docs.toIndexedSeq, planted.toIndexedSeq)
  }

  /** Clustered unit-scale vectors shaped like the embeddings table. */
  def embeddings(seed: Long, n: Int, dims: Int): IndexedSeq[(Long, Array[Float])] = {
    val r = new SplittableRandom(seed ^ 0xe3bL)
    val centers = Array.fill(16, dims)(r.nextDouble() * 2 - 1)
    (0 until n).map { i =>
      val c = centers(r.nextInt(centers.length))
      i.toLong -> Array.tabulate(dims)(d => (c(d) * 0.2 + (r.nextDouble() * 2 - 1) * 0.1).toFloat)
    }
  }
}

final case class LakeRow(id: Long, l_orderkey: Long, l_partkey: Long, l_suppkey: Long,
  l_quantity: Double, l_extendedprice: Double, l_discount: Double, l_tax: Double,
  l_returnflag: String, l_shipdate: String)

/** Text values as written into a workbook. */
final case class EtlRow(key: Long, orderkey: Long, suppkey: Long, quantity: Int,
    priceCents: Long, discount: Int, flag: String, shipdate: String, comment: String) {
  def price: String = f"${priceCents / 100}%d.${priceCents % 100}%02d"
  def cells: Seq[String] = Seq(key.toString, orderkey.toString, suppkey.toString,
    quantity.toString, price, f"0.$discount%02d", flag, shipdate, comment)
}

/** One row of the ETL target table (numeric columns `double`). */
final case class TableRow(lkey: Double, l_orderkey: Double, l_suppkey: Double,
  l_quantity: Double, l_extendedprice: Double, l_discount: Double,
  l_returnflag: String, l_shipdate: String, l_comment: String)
