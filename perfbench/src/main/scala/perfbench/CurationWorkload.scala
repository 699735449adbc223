package perfbench

import scala.collection.mutable

import graft.llm.{Dedup, Retrieval, Similarity}
import org.apache.spark.sql.functions.col

/** LLM-data curation, one pass at a time: MinHash LSH candidates → exact
  * n-gram Jaccard → threshold → connected components, then BM25 over a
  * fixed term list and an exact cosine top-k over the embeddings.
  */
object CurationWorkload {
  val Threshold = 0.5
  val Dims = 64
  /** Input sizes: documents (5 % of them planted near-duplicates),
    * vectors, top-k queries.
    */
  final case class Size(docs: Int, vectors: Int, queries: Int)
  val Full: Size = Size(docs = 1000, vectors = 2000, queries = 40)
  val K = 10
  val CheckedQueries = 10
  /** Fixed BM25 query: two vocabulary words and the near-duplicate mark. */
  val Terms: Seq[String] = Seq(Gen.word(7), Gen.word(21), Gen.DupWord)
  private val Parts = Seq("minhash_candidates", "ngram_jaccard", "connected_components", "bm25", "brute_topk")

  def start(ctx: Ctx, size: Size = Full): Part = {
    import size._
    val spark = ctx.spark
    import spark.implicits._
    val tracer = ctx.tracer
    val errors = mutable.ArrayBuffer[String]()

    val (docList, planted) = Gen.corpus(ctx.seed, docs)
    val vecs = Gen.embeddings(ctx.seed, vectors, Dims)
    val docsPath = ctx.dir("curation/documents.parquet")
    val vecsPath = ctx.dir("curation/embeddings.parquet")
    docList.toDF("doc_id", "text").repartition(4).write.parquet(docsPath)
    vecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding").repartition(4).write.parquet(vecsPath)
    val texts = docList.toMap
    val shs = mutable.HashMap[Long, Set[String]]()
    def shingles(id: Long) = shs.getOrElseUpdate(id, Model.shingles(texts(id)))
    val floor = Model.plantedFloor(planted.map { case (a, b) => Model.jaccard(shingles(a), shingles(b)) },
      Dedup.Bands, Dedup.RowsPerBand)
    val queryIds = (0 until queries).map(i => (i.toLong * vectors) / queries)
    val topKWant = queryIds.take(CheckedQueries).map(q => q -> Model.cosineTopK(q -> vecs(q.toInt)._2, vecs, K)).toMap
    val matching = docList.count(d => d._2.split(" ").exists(Terms.contains))

    var attempted = 0L

    val docFrame = spark.read.parquet(docsPath)
    val corpus = spark.read.parquet(vecsPath)
    def pass(timed: Boolean): Double = {
      val (cands, t1) = tracer.time("minhash_candidates") {
        val c = Dedup.minhashCandidates(docFrame, "text", "doc_id").cache()
        c.count()
        c
      }
      val (accepted, t2) = tracer.time("ngram_jaccard") {
        val a = Dedup.ngramJaccard(docFrame, cands, "text", "doc_id").filter(col("jaccard") >= Threshold).cache()
        a.count()
        a
      }
      val (comps, t3) = tracer.time("connected_components") {
        Dedup.connectedComponents(accepted).as[(Long, Long)].collect().toSeq
      }
      val (hits, t4) = tracer.time("bm25") {
        Retrieval.bm25(docFrame, "doc_id", "text", Terms, K)
          .select(col("doc_id"), col("score")).as[(Long, Double)].collect().toSeq
      }
      val (topk, t5) = tracer.time("brute_topk") {
        Similarity.bruteTopK(corpus, corpus.filter(col("vec_id").isin(queryIds: _*)), "embedding", "vec_id", K)
          .select(col("id_a"), col("rk"), col("id_b")).as[(Long, Int, Long)].collect().toSeq
      }
      val candPairs = cands.select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSeq
      val acc = accepted.select(col("id_a"), col("id_b"), col("jaccard")).as[(Long, Long, Double)].collect().toSeq
      tracer.note("minhash_candidates", "candidate_pairs", candPairs.length)
      tracer.note("ngram_jaccard", "accepted_share", acc.length.toDouble / candPairs.length)
      cands.unpersist(); accepted.unpersist()

      errors ++= Model.checkAccepted(shingles, Threshold, candPairs, acc)
      errors ++= Model.checkComponents(acc.map(a => (a._1, a._2)), comps)
      errors ++= Model.checkPlanted(planted, comps.toMap, floor)
      errors ++= Model.checkTopK(topKWant,
        topk.groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3) })
      errors ++= Model.checkBm25(Terms, K, matching, hits, texts)
      if (timed) attempted += 5
      t1 + t2 + t3 + t4 + t5
    }

    new Part {
      val writes: Seq[String] = Nil
      val reads: Seq[String] = Parts
      def iteration(timed: Boolean): Double = pass(timed)
      def finish(): PartOutcome = PartOutcome(attempted, 0L, errors.toSeq, Nil)
    }
  }
}
