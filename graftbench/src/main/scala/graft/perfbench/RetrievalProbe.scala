package graft.perfbench

import org.apache.spark.sql.functions._

import graft.engine.Catalog
import graft.ops.{AnnSweep, Corpus, KMeans, PQ}
import graft.queries.SimilarityQ

/** The read side of the index layer, run by the traced run of `ingest`:
  * persisted BM25 impact, IVF-PQ and MaxSim token-IVF indexes over the base
  * corpus, and one hybrid request for the documents whose id is a multiple
  * of 250 — BM25 impact top-k (batched), IVF-PQ top-k and MaxSim top-k,
  * fused with reciprocal-rank fusion. The request is timed once, right
  * after the index builds (so partly on cold code), and checked against
  * exact retrievers: exhaustive BM25, `AnnSweep.truthPairs` and the
  * full-probe MaxSim serve. */
object RetrievalProbe {
  val Dims = 64
  val Kc = 8
  val Nprobe = 3
  val PqM = 8
  val PqK = 16
  val TopK = 10
  /** The MaxSim serve hooks read the probes of this modulus. */
  val Modulus = 250

  /** Checks of the last probe run; empty when the traced run did not run. */
  var checks: Seq[(String, Boolean, String)] = Nil

  /** RRF (1 / (60 + rank), summed) of ranked lists to the top 10, ties to
    * the smaller document id. */
  def fuse(lists: Seq[Seq[Long]]): Seq[Long] =
    lists.flatMap(_.zipWithIndex).groupBy(_._1)
      .map { case (d, hs) => d -> hs.map(h => 1.0 / (60 + h._2 + 1)).sum }
      .toSeq.sortBy { case (d, s) => (-s, d) }.take(TopK).map(_._1)

  private def list(hits: Seq[(Long, Long, Int)], q: Long) =
    hits.filter(_._1 == q).sortBy(_._3).map(_._2)

  def apply(ctx: Ctx): Map[String, Double] = {
    val s = ctx.spark
    import s.implicits._
    val docs = Catalog.load(s, ctx.data, "documents")
    val emb = Catalog.load(s, ctx.data, "embeddings")
    val bm25 = ctx.dir("retrieval/bm25")
    val pq = ctx.dir("retrieval/ivfpq")
    val buildS = Harness.timeS(Harness.parallel(3,
      "bm25" -> (() => Corpus.writeBm25ImpactIndex(docs, "text", bm25, Ingest.Buckets)),
      "ivfpq" -> (() => {
        val (assigned, cents) = KMeans.lloyd(emb, "vec_id", "embedding", Kc, 2, Dims)
        val books = PQ.train(emb, "vec_id", "embedding", PqM, PqK, 2, Dims)
        PQ.writeIvfPqIndex(assigned, cents, books, "vec_id", "embedding", Dims, pq)
      }),
      "maxsim" -> (() => SimilarityQ.pipelines
        .filter(p => Set("maxsim_token_ivf", "maxsim_ivf_index")(p._1))
        .foreach(_._2(s, ctx.data)))))
    val qt = docs.filter(col("doc_id") % Modulus === 0).collect().toSeq
      .flatMap(r => Ingest.terms(r.getString(1), ctx.seed).map(r.getLong(0) -> _))
      .toDF("q_id", "term")
    val probes = emb.filter(col("vec_id") % Modulus === 0)
    val (b, v, m) = (
      ctx.trace("ops", "bm25_serve")(Ingest.batchedBm25(ctx, bm25, qt)),
      ctx.trace("ops", "ivfpq_serve")(Ingest.ranked(ctx.collect(PQ.knnIvfPqPersisted(s, pq,
        probes, "vec_id", "embedding", Dims, Nprobe, TopK), "ivfpq"), "q_vec", "neighbor", "rank")),
      ctx.trace("ops", "maxsim_serve")(Ingest.ranked(ctx.collect(
        SimilarityQ.maxsimPersistedServeAtProbes(s, ctx.data, Modulus), "maxsim"),
        "q_doc", "doc_id", "rank")))
    val fused = ctx.trace("ops", "fusion")(b.map(_._1).distinct.map(q =>
      q -> fuse(Seq(list(b, q), list(v, q), list(m, q)))))
    require(fused.nonEmpty, "the hybrid request returned nothing")
    val exhaustive = Ingest.exhaustiveBm25(ctx, bm25, qt)
    val truth = AnnSweep.truthPairs(emb, probes, "vec_id", "embedding", TopK)
    val pqRecall = v.count(h => truth((h._1, h._2))).toDouble / math.max(1, truth.size)
    // Every cell probed and every scored document a candidate: exact MaxSim.
    val exactMs = Ingest.ranked(SimilarityQ.maxsimIvfServeAt(s, ctx.data, nprobe = 64,
      candT = Int.MaxValue).collect(), "q_doc", "doc_id", "rank")
    val msSet = exactMs.map(h => (h._1, h._2)).toSet
    val msRecall = m.count(h => msSet((h._1, h._2))).toDouble / math.max(1, msSet.size)
    checks = Seq(
      ("retrieval_bm25_equals_exhaustive", b.sorted == exhaustive.sorted,
        s"${b.size} hits vs ${exhaustive.size}"),
      ("retrieval_ivfpq_recall_vs_truth", pqRecall >= 0.1, f"recall@10 $pqRecall%.3f (floor 0.1)"),
      ("retrieval_maxsim_recall_vs_full_probe", msRecall >= 0.5,
        f"recall@10 $msRecall%.3f (floor 0.5)"))
    Map(
      "ops.bm25_serve_ms" -> ctx.trace.lastMs("bm25_serve"),
      "ops.ivfpq_serve_ms" -> ctx.trace.lastMs("ivfpq_serve"),
      "ops.maxsim_serve_ms" -> ctx.trace.lastMs("maxsim_serve"),
      "ops.fusion_ms" -> ctx.trace.lastMs("fusion"),
      "ops.index_build_s" -> buildS)
  }
}
