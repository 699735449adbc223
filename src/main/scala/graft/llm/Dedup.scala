package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Deduplication operators for LLM training corpora: exact (content-hash
  * groupBy), MinHash-LSH near-dup candidates, SimHash near-dup pairs, and
  * exact n-gram Jaccard verification.
  *
  * Scale design (100 TB):
  *  - Exact dedup shuffles once on the 128-bit content hash — the hash is
  *    computed map-side, so the shuffle carries (hash, id), never the
  *    document body.
  *  - MinHash-LSH is the classic shingle→minhash→band→bucket-join plan:
  *    candidate generation joins on (band, band_key) buckets, so cost is
  *    Σ bucket² not corpus² — the whole point of LSH. Signatures are
  *    k=16 mins over md5-seeded hashes; 4 bands × 4 rows ⇒ pairs with
  *    Jaccard ≳ 0.7 collide w.h.p. (s-curve (1-(1-s⁴)⁴)).
  *  - SimHash packs a document into one 32-bit value; near-dup = hamming
  *    distance ≤ r via bit_count(xor). Pair search uses the pigeonhole
  *    trick (split the hash into r+1 chunks; a pair within distance r
  *    must agree on some chunk), so it is a pure equi-join — no language
  *    or other attribute blocking that can go quadratic on a skewed block.
  *  - Jaccard verification only ever runs on candidate pairs (the LSH
  *    output), never all pairs.
  */
object Dedup {

  /** 128-bit exact-content key of the normalized text. */
  def contentKey(text: Column): Column = md5(TextOps.norm(text))

  /** Exact dedup: keep the smallest `idCol` per content key. NULL text is
    * UNKNOWN content, not equal content — each null-text doc keys on its
    * own id so none of them collapse into each other (unlike empty
    * strings, which genuinely share `md5("")`).
    */
  def exact(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(col("__ck")).orderBy(col(idCol).asc)
    docs.withColumn("__ck",
        coalesce(contentKey(col(textCol)),
          concat(lit("__null__"), col(idCol).cast("string"))))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__ck", "__rn")
  }

  val NumHashes = 16
  val Bands = 4
  val RowsPerBand: Int = NumHashes / Bands

  /** Long-form MinHash signature: one row per (id, seed) with the min
    * seeded-md5 over the document's 3-gram shingles. Docs with < 3 tokens
    * produce no rows (no shingles → no signature → never a candidate).
    *
    * One-pass plan: the k mins are k conditional aggregates over a SINGLE
    * scan of the (id, shingle) rows — k·shingles hashes but no k× row
    * blowup, and Catalyst's partial aggregation collapses to one row per
    * doc map-side, so the shuffle carries docs, not docs×shingles×k.
    * (The naive explode-seeds plan shuffled 16× the shingle volume — at
    * 100 TB that is the whole job's cost.) The wide row is then unpivoted
    * with stack() for the band layer.
    */
  def minhashSignature(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    // Tokens are materialized in their own projection so the shingle
    // transform's element_at calls hit a bound array attribute — inlining
    // the split/regex tree would re-run it per element (see TextOps).
    val sh = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(TextOps.shingles3(col("__toks"))).as("sh"))
    val mins = (0 until NumHashes).map(i =>
      min(md5(concat(lit(s"s$i|"), col("sh")))).as(s"mh$i"))
    val stackExpr =
      s"stack($NumHashes, ${(0 until NumHashes).map(i => s"$i, mh$i").mkString(", ")}) AS (seed, mh)"
    sh.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), expr(stackExpr))
  }

  /** Band keys: md5 over the band's `RowsPerBand` ordered minhashes. */
  def bandKeys(sig: DataFrame, idCol: String): DataFrame = {
    val parts = (0 until RowsPerBand).map(r =>
      max(when(pmod(col("seed"), lit(RowsPerBand)) === r, col("mh"))).as(s"p$r"))
    // floor() before the int cast: Spark's double→int cast truncates but
    // DuckDB's rounds — floor makes the band id identical in both.
    sig.groupBy(col(idCol), floor(col("seed") / RowsPerBand).cast("int").as("band"))
      .agg(parts.head, parts.tail: _*)
      .select(col(idCol), col("band"),
        md5(concat_ws("|", (0 until RowsPerBand).map(r => col(s"p$r")): _*)).as("band_key"))
  }

  /** LSH candidate pairs (id_a < id_b) with the number of shared bands. */
  def minhashCandidates(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val bk = bandKeys(minhashSignature(docs, textCol, idCol), idCol)
    val a = bk.select(col(idCol).as("id_a"), col("band"), col("band_key"))
    val b = bk.select(col(idCol).as("id_b"), col("band"), col("band_key"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(countDistinct(col("band")).as("n_shared_bands"))
  }

  /** 32-bit SimHash of the token stream: per bit j, sum ±1 weighted by
    * token-hash bit j; simhash bit j = (sum > 0).
    */
  def simhash32(docs: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = docs.select(col(idCol),
      explode(TextOps.tokens(col(textCol))).as("t"))
      .withColumn("h", TextOps.hash32(col("t")))
    val bitSums = (0 until 32).map(j =>
      sum(pmod(shiftright(col("h"), j), lit(2)) * 2 - 1).as(s"b$j"))
    val packed = (0 until 32).map(j =>
      when(col(s"b$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
    toks.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol), packed.as("simhash"))
  }

  /** SimHash near-dup pairs via the pigeonhole chunk join: split the
    * 32-bit hash into `maxHamming + 1` contiguous chunks — two hashes
    * within hamming distance `maxHamming` must agree on at least one
    * chunk (pigeonhole: `maxHamming` differing bits cannot touch all
    * `maxHamming + 1` chunks) — then equi-join on (chunk_idx, chunk_val),
    * distinct the candidate pairs, and apply the exact hamming filter.
    *
    * Scale: the join is a pure equi-join whose cost is Σ bucket² per
    * chunk value, not corpus². This replaces the earlier language-blocked
    * variant, whose biggest block (a 90 %-English corpus) degenerated to
    * O(block²) in one join key. Selectivity per chunk is 2^(32/(r+1));
    * keep `maxHamming` small (≤ 7 for 32-bit hashes) — as r approaches
    * the hash width the chunks thin out and the join approaches all-pairs,
    * which is inherent to pigeonhole LSH, not this implementation.
    */
  def simhashPairs(docs: DataFrame, textCol: String, idCol: String,
      maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32,
      s"maxHamming must be in [0, 32) for a 32-bit simhash, got $maxHamming")
    val nChunks = maxHamming + 1
    val chunks = array((0 until nChunks).map { i =>
      val lo = i * 32 / nChunks
      val hi = (i + 1) * 32 / nChunks
      struct(lit(i).as("ck"),
        shiftright(col("simhash"), lo)
          .bitwiseAND(lit((1L << (hi - lo)) - 1)).as("cv"))
    }: _*)
    val ch = simhash32(docs, textCol, idCol)
      .select(col(idCol), col("simhash"), explode(chunks).as("c"))
      .select(col(idCol), col("simhash"), col("c.ck").as("ck"), col("c.cv").as("cv"))
    val a = ch.select(col(idCol).as("id_a"), col("simhash").as("sh_a"), col("ck"), col("cv"))
    val b = ch.select(col(idCol).as("id_b"), col("simhash").as("sh_b"), col("ck"), col("cv"))
    a.join(b, Seq("ck", "cv"))
      .filter(col("id_a") < col("id_b"))
      // a close pair collides in several chunks — dedup BEFORE the (cheap)
      // hamming filter so each candidate is scored once
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
  }

  /** All pairs within Hamming distance `maxHamming` over an arbitrary
    * `bits`-wide integer fingerprint column — [[simhashPairs]]'s
    * pigeonhole generalized for any hash family (image dHash,
    * audio fingerprints): split into `maxHamming + 1` chunks; a
    * qualifying pair agrees EXACTLY on at least one chunk, so the
    * candidate join is chunk-equality keyed — Σ bucket², never corpus².
    * Null fingerprints (undecodable payloads) drop out of the join.
    */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
      bits: Int, maxHamming: Int): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, $bits), got $maxHamming")
    val nChunks = maxHamming + 1
    val chunks = array((0 until nChunks).map { i =>
      val lo = i * bits / nChunks
      val hi = (i + 1) * bits / nChunks
      struct(lit(i).as("ck"),
        shiftright(col(hashCol), lo)
          .bitwiseAND(lit((1L << (hi - lo)) - 1)).as("cv"))
    }: _*)
    val ch = hashes.filter(col(hashCol).isNotNull)
      .select(col(idCol), col(hashCol), explode(chunks).as("c"))
      .select(col(idCol), col(hashCol),
        col("c.ck").as("ck"), col("c.cv").as("cv"))
    val a = ch.select(col(idCol).as("id_a"), col(hashCol).as("h_a"),
      col("ck"), col("cv"))
    val b = ch.select(col(idCol).as("id_b"), col(hashCol).as("h_b"),
      col("ck"), col("cv"))
    a.join(b, Seq("ck", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("h_a"), col("h_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** [[hammingPairs]] with an ALIGNMENT group: candidates must agree on
    * `groupCol` as well as a chunk — the multi-fingerprint-per-item
    * shape (video near-dup: one dHash per sampled frame, matched only
    * against the SAME sample slot of other videos; slot i of a 2-hour
    * clip never joins slot j of another). Returns one row per
    * (group, id_a, id_b) qualifying pair. Scale shape unchanged:
    * Σ bucket² per (group, chunk) bucket, never corpus².
    */
  def hammingPairsGrouped(hashes: DataFrame, idCol: String, hashCol: String,
      groupCol: String, bits: Int, maxHamming: Int): DataFrame = {
    require(bits >= 1 && bits <= 63, s"bits must be in [1, 63], got $bits")
    require(maxHamming >= 0 && maxHamming < bits,
      s"maxHamming must be in [0, $bits), got $maxHamming")
    val nChunks = maxHamming + 1
    val chunks = array((0 until nChunks).map { i =>
      val lo = i * bits / nChunks
      val hi = (i + 1) * bits / nChunks
      struct(lit(i).as("ck"),
        shiftright(col(hashCol), lo)
          .bitwiseAND(lit((1L << (hi - lo)) - 1)).as("cv"))
    }: _*)
    val ch = hashes.filter(col(hashCol).isNotNull && col(groupCol).isNotNull)
      .select(col(idCol), col(groupCol), col(hashCol), explode(chunks).as("c"))
      .select(col(idCol), col(groupCol), col(hashCol),
        col("c.ck").as("ck"), col("c.cv").as("cv"))
    val a = ch.select(col(idCol).as("id_a"), col(groupCol).as("grp"),
      col(hashCol).as("h_a"), col("ck"), col("cv"))
    val b = ch.select(col(idCol).as("id_b"), col(groupCol).as("grp"),
      col(hashCol).as("h_b"), col("ck"), col("cv"))
    a.join(b, Seq("grp", "ck", "cv"))
      .filter(col("id_a") < col("id_b"))
      .select(col("grp"), col("id_a"), col("id_b"), col("h_a"), col("h_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("grp"), col("id_a"), col("id_b"), col("hamming"))
  }

  /** VIDEO NEAR-DUP's pair half: aligned per-sample hash pairs
    * ([[hammingPairsGrouped]] keyed on the sample slot) aggregated per
    * video pair — near-dups are pairs whose matched-slot count clears
    * `minMatched` (a clip with one re-edited scene still matches on the
    * other slots; a coincidental single-frame collision does not).
    * Returns (id_a, id_b, matched, ham_sum).
    */
  def alignedNearDupPairs(hashes: DataFrame, idCol: String, hashCol: String,
      groupCol: String, bits: Int, maxHamming: Int,
      minMatched: Int): DataFrame = {
    import org.apache.spark.sql.functions.{count, sum}
    hammingPairsGrouped(hashes, idCol, hashCol, groupCol, bits, maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("matched"), sum(col("hamming")).as("ham_sum"))
      .filter(col("matched") >= minMatched)
  }

  /** Connected components over an undirected pair graph — resolves
    * near-dup PAIRS into duplicate CLUSTERS, which is what a dedup
    * pipeline actually deletes against: keep ONE representative per
    * component, not per pair (pairs (a,b) and (b,c) are one 3-doc
    * cluster, and pairwise dedup would wrongly keep two of them).
    * Returns (id, comp) for every id in `pairs`, comp = the component's
    * minimum id (a deterministic representative); an id that is null
    * yields (null, null).
    *
    * One staging job checkpoints the canonical (hi, lo) pairs and counts
    * them with an `observe` aggregate in the same job. The count picks
    * the plan, by the rule Spark uses to broadcast a join side: when
    * rows × the row's default size is at or under
    * `spark.sql.autoBroadcastJoinThreshold`, the edge set is collected
    * and closed ON THE DRIVER ([[componentsOnDriver]]: union-find, one
    * collect job, a local relation out); above it, or with a negative
    * threshold, the distributed star loop below runs. Both give the same
    * rows and the same schema (`ConnectedComponentsSpec`). The observed
    * count is at-least-once under task retries: an inflated count can
    * only send a small input to the loop, which is exact too — never a
    * large one to the driver. Integral and string ids take the driver
    * path; any other id type (decimal, date, ...) always takes the loop.
    *
    * Loop plan: alternating LARGE-STAR / SMALL-STAR (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 — public
    * algorithm). Large-star re-attaches every neighbor v > u to the
    * minimum of u's closed neighborhood; small-star does the same for
    * the neighbors v < u. Each operation is one groupBy(min) plus one
    * equi-join on the node id — the same bounded per-round shuffle shape
    * as plain min-label propagation — but the alternation contracts
    * PATHS exponentially: O(log n) rounds on a chain where label
    * propagation pays O(diameter). (A 10k-node path converges in ≤ 16
    * alternations, ~log2(diameter) halvings + the no-change detection
    * rounds — pinned in DedupSpec — where propagation would need 10k
    * rounds.) Fixpoint = the round's output edge set equals its input —
    * ONE set-equality probe per round (folded into the round's
    * materialization job via `observe`, r18), sufficient because both star
    * operations strictly decrease Σ(hi+lo) over the edges on any change
    * (re-attachment lowers an endpoint, merging drops an edge), so the
    * composition cannot cycle: output == input forces each step to be the
    * identity, which holds iff every component is a star around its
    * minimum id. Labels then read directly off the edges.
    * Non-convergence within `maxIter` FAILS loudly instead of returning
    * wrong components; the driver loop carries only the probe, never
    * data.
    *
    * Each round EAGERLY `localCheckpoint`s the new edge set: iterative
    * algorithms must truncate lineage per round or the plan re-expands
    * through every previous iteration (a lazy cache materializes only the
    * partitions the convergence probe touches — the rest recompute the
    * whole history, exponentially). Truncation goes through
    * `Checkpoints.stage`: `setCheckpointDir` on the SparkContext flips
    * the loop to RELIABLE checkpoints (executor-loss-safe on a cluster);
    * unset, it stays eager localCheckpoint.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    // canonical (hi, lo) pairs, self-pairs kept so every id stays in the
    // staged set; a pair with a null id stages as (other id, null), so
    // the null id is kept too and the pair still adds no edge
    val canon = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        when(col("id_a").isNotNull && col("id_b").isNotNull,
          least(col("id_a"), col("id_b"))).as("v"))
      .distinct()
    val counted = canon.observe("cc_stage", count(lit(1)).as("n"))
    val staged = counted.transform(graft.ops.Checkpoints.stage)
    val rows = counted.queryExecution.observedMetrics.get("cc_stage")
      .map(_.getLong(0))
      .getOrElse(throw new IllegalStateException(
        "cc_stage metrics missing after eager checkpoint"))
    val threshold = pairs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    driverKey(canon.schema("u").dataType) match {
      case Some(key) if threshold >= 0 && rows * canon.schema.defaultSize <= threshold =>
        val edges = staged.collect()
        // the loop's output schema, by analysis alone (no job)
        val schema = labelNodes(pairs, staged).schema
        graft.ops.Checkpoints.free(staged)
        componentsOnDriver(pairs.sparkSession, edges, schema, key)
      case _ => starLoop(pairs, staged.filter(col("u") =!= col("v")), maxIter)
    }
  }

  /** The distributed large-star/small-star loop from the canonical,
    * self-pair-free edge set `canonEdges` (a checkpoint it frees); see
    * [[connectedComponents]].
    */
  private def starLoop(pairs: DataFrame, canonEdges: DataFrame,
      maxIter: Int): DataFrame = {
    var edges = canonEdges
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // LARGE-STAR over both orientations: per node u, m = min(Γ(u) ∪ u);
      // each neighbor v > u re-attaches as (v, m) — v > u ≥ m keeps the
      // (hi, lo) canonical form with no re-ordering.
      // afterLarge is NOT checkpointed (optimization r17): its two
      // consumers (mSmall's groupBy and the small-star join) sit in the
      // SAME job, where Spark's exchange reuse computes the shared
      // distinct subtree once; the per-round checkpoint below still
      // truncates lineage, so plans never grow across rounds. (r17:
      // 2 checkpoints + count + anti per round → 1 checkpoint + 1
      // probe; r18 folds the probe INTO the checkpoint job — see the
      // probe-fold comment below — so a round is ONE job.)
      val dir = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mLarge = dir.groupBy(col("u")).agg(least(min(col("v")), col("u")).as("m"))
      val afterLarge = dir.join(mLarge, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // SMALL-STAR on the canonical edges: per hi-node u, m = min of its
      // lo-neighbors; u and every lo-neighbor ≠ m re-attach to m
      val mSmall = afterLarge.groupBy(col("u")).agg(min(col("v")).as("m"))
      val afterSmall = afterLarge.join(mSmall, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mSmall.select(col("u"), col("m").as("v")))
        .distinct()
      // PROBE FOLD (optimization r18): both sides distinct ⇒ set
      // equality = no row unique to either side of a full-outer join —
      // the SAME probe r17 ran as a second job, now evaluated INSIDE
      // the round's one materialization: the checkpoint materializes
      // the full-outer join itself and an `observe` aggregate counts
      // the rows unique to either side during that job. The metric is
      // read synchronously off the executed plan's CollectMetrics
      // accumulator (no async listener). Task retries/speculation can
      // only re-count rows that ARE mismatches — a converged round has
      // none anywhere, so `mismatch == 0` remains the exact set-equality
      // verdict in every deployment mode. The next round's edge set is
      // the matched-side projection of the SAME checkpoint: a matched
      // join row exists exactly once per afterSmall row (edges is a
      // set), so the rows are afterSmall's rows, bit-identical.
      val probed = afterSmall.withColumn("__s", lit(1))
        .join(edges.withColumn("__e", lit(1)), Seq("u", "v"), "full_outer")
        .observe("cc_probe",
          count(when(col("__s").isNull || col("__e").isNull, lit(1)))
            .as("mismatch"))
      val ckpt = probed.transform(graft.ops.Checkpoints.stage)
      converged = probed.queryExecution.observedMetrics.get("cc_probe")
        .map(_.getLong(0))
        .getOrElse(throw new IllegalStateException(
          "cc_probe metrics missing after eager checkpoint")) == 0L
      // free the DEAD checkpoint (the superseded edges): the new round
      // is eagerly materialized and the convergence probe has run, so
      // nothing can read it again — without this, every round's blocks
      // pin storage memory for the rest of the session (the round-9
      // mid-suite slowdown ghost)
      graft.ops.Checkpoints.free(edges)
      edges = ckpt.filter(col("__s").isNotNull).select(col("u"), col("v"))
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — raise maxIter")
    // terminal state is a star per component: every non-min node carries
    // exactly (node, comp-min); the min itself appears only as a lo side
    labelNodes(pairs, edges)
  }

  /** (id, comp) for every id of `pairs`: comp = the smallest lo side
    * `edges` gives the id as a hi side, else the id itself.
    */
  private def labelNodes(pairs: DataFrame, edges: DataFrame): DataFrame = {
    val nodes = pairs.select(col("id_a").as("id"))
      .union(pairs.select(col("id_b").as("id"))).distinct()
    nodes.join(
        edges.groupBy(col("u")).agg(min(col("v")).as("__c"))
          .select(col("u").as("id"), col("__c")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__c"), col("id")).as("comp"))
  }

  /** Driver-side sort key for an id type [[componentsOnDriver]] takes,
    * ordered as Spark's `min`/`least` order it: integral ids compare as
    * their boxed values, strings as UTF-8 bytes (`UTF8String`; Java's
    * UTF-16 `String.compareTo` orders supplementary characters
    * differently). None for every other type.
    */
  private def driverKey(t: DataType): Option[Any => AnyRef] = t match {
    case ByteType | ShortType | IntegerType | LongType => Some(_.asInstanceOf[AnyRef])
    case StringType => Some(s => UTF8String.fromString(s.asInstanceOf[String]))
    case _ => None
  }

  /** Union-find over the collected staged (u, v) pairs: the distinct ids
    * are sorted and indexed by binary search, every union roots at the
    * smaller index (so a root is its component's minimum id) and `find`
    * compresses paths. A row with a null `v` came from a pair with a null
    * id: it adds no edge, and the null id yields (null, null), as the
    * loop's null node does.
    */
  private def componentsOnDriver(spark: SparkSession, staged: Array[Row],
      schema: StructType, key: Any => AnyRef): DataFrame = {
    val order: Ordering[AnyRef] = (a, b) => a.asInstanceOf[Comparable[AnyRef]].compareTo(b)
    val ids = staged.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
      .filter(_ != null).map(key).toArray.distinct.sorted(order)
    def index(id: Any): Int = java.util.Arrays.binarySearch(ids, key(id), order)
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var root = i
      while (parent(root) != root) root = parent(root)
      var x = i
      while (parent(x) != root) { val up = parent(x); parent(x) = root; x = up }
      root
    }
    staged.foreach { r =>
      if (!r.isNullAt(1)) {
        val (a, b) = (find(index(r.get(0))), find(index(r.get(1))))
        if (a < b) parent(b) = a else parent(a) = b
      }
    }
    val value: AnyRef => Any = {
      case s: UTF8String => s.toString
      case id => id
    }
    val labelled = ids.indices.map(i => Row(value(ids(i)), value(ids(find(i)))))
    val nullId = if (staged.exists(_.isNullAt(1))) Seq(Row(null, null)) else Nil
    spark.createDataFrame((labelled ++ nullId).asJava, schema)
  }

  /** Exact n-gram Jaccard for candidate pairs: |A∩B| / |A∪B| over DISTINCT
    * 3-gram shingles. `candidates` must have (id_a, id_b); pairs with an
    * empty intersection (or a missing / shingle-less doc) are dropped.
    *
    * Plan: each doc's distinct shingle set stays an ARRAY — two id-keyed
    * equi-joins attach both sets to each pair, and `array_intersect` does
    * the set math per row. Cost is linear in candidate volume, the join
    * keys are always doc ids (a shingle shared by millions of docs never
    * becomes a join key, let alone a hot one), and there is no explode:
    * the exploded shingle⋈shingle alternative is quadratic per common
    * shingle — a scale-killer at 100 TB.
    */
  def ngramJaccard(docs: DataFrame, candidates: DataFrame,
      textCol: String, idCol: String): DataFrame = {
    val sets = docs
      .select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        array_distinct(TextOps.shingles3(col("__toks"))).as("shs"))
    candidates.select(col("id_a"), col("id_b"))
      .join(sets.select(col(idCol).as("id_a"), col("shs").as("shs_a")), Seq("id_a"))
      .join(sets.select(col(idCol).as("id_b"), col("shs").as("shs_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("bigint").as("n_inter"),
        size(col("shs_a")).cast("bigint").as("n_a"),
        size(col("shs_b")).cast("bigint").as("n_b"))
      .filter(col("n_inter") > 0)
      .withColumn("jaccard",
        col("n_inter").cast("double") / (col("n_a") + col("n_b") - col("n_inter")).cast("double"))
  }

  /** EXACT repeated-span detection — the fixed-width approximation of
    * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): every k-token span
    * whose exact text occurs ≥ `minCount` times ANYWHERE in the corpus
    * (across docs or repeated inside one doc) is a duplicated span; per
    * document, duplicated occurrences are merged into maximal token
    * intervals (overlapping-or-adjacent spans coalesce) and summarized as
    * region count / covered tokens / covered fraction — the numbers a
    * span-removal pass keys on.
    *
    * Scale plan (100 TB): exactly TWO shuffles.
    *  1. Occurrences shuffle once on the 128-bit span md5 (the shuffle
    *     carries (hash, id, pos) — never the span text), and the
    *     corpus-wide occurrence count is a COUNT window over that one
    *     clustering; a boilerplate span shared by 100M docs is a large
    *     window partition that sorts/spills, not an OOM, and never
    *     becomes a join key (the groupBy+self-semi-join alternative
    *     shuffles the occurrence relation twice and probes the hot key
    *     into one reducer all the same).
    *  2. Surviving occurrences shuffle once on doc id; the two interval
    *     windows (previous running max end, region-start running sum) and
    *     BOTH downstream groupBys all reuse that single Exchange
    *     (ClusteredDistribution-subset, pinned in PlanSpec).
    * Docs with < k tokens produce no spans (k-gram of nothing) and docs
    * with no duplicated span produce no output row — the caller joins
    * back to the corpus if it wants zeros.
    */
  def repeatedSpans(docs: DataFrame, textCol: String, idCol: String,
      k: Int = 8, minCount: Int = 2): DataFrame = {
    require(k >= 2 && minCount >= 2, s"need k>=2, minCount>=2; got k=$k minCount=$minCount")
    val occ = docs
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("id"), size(col("__toks")).cast("long").as("n_toks"),
        posexplode(TextOps.shinglesKOf(col("__toks"), k)))
      .select(col("id"), col("n_toks"), (col("pos") + 1).as("pos"),
        md5(col("col")).as("__h"))
    val dupOcc = occ
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__h"))))
      .filter(col("__n") >= minCount)
      .select(col("id"), col("n_toks"), col("pos"))
    // Gaps-and-islands over [pos, pos+k-1] intervals: a new region starts
    // when this span's start clears the running max end by more than one
    // (adjacent duplicated runs stay one region — the covered-token union
    // is contiguous).
    val wd = Window.partitionBy(col("id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + lit(k - 1))
      .over(wd.rowsBetween(Window.unboundedPreceding, -1))
    dupOcc
      .withColumn("__new",
        when(col("pos") > coalesce(prevEnd, lit(-1)) + 1, 1).otherwise(0))
      .withColumn("__g", sum(col("__new")).over(wd))
      .groupBy(col("id"), col("n_toks"), col("__g"))
      .agg(min(col("pos")).as("__s"), (max(col("pos")) + lit(k - 1)).as("__e"),
        count(lit(1)).as("__occ"))
      .groupBy(col("id"), col("n_toks"))
      .agg(sum(col("__occ")).cast("long").as("n_dup_spans"),
        count(lit(1)).as("n_dup_regions"),
        sum(col("__e") - col("__s") + 1).cast("long").as("dup_tokens"))
      .withColumn("dup_frac",
        col("dup_tokens").cast("double") / col("n_toks").cast("double"))
  }
}
