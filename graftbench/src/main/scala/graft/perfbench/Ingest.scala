package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.engine.Catalog
import graft.expressions.PolyHash
import graft.functions.TextAnalysis
import graft.ops.{Corpus, Similarity}
import graft.streaming.Streams

/** The index layer's write path. Each operation ingests one seeded batch
  * of new documents carrying planted exact duplicates, planted
  * near-duplicates and deletes of existing documents:
  *   1. the batch lands as a file in the stream's landing directory;
  *   2. `Streams.incrementalDedupSink` drains it with AvailableNow;
  *   3. the survivors are fingerprinted with the `text_fingerprint`
  *      projection;
  *   4. the survivors are appended as a delta segment to the BM25 impact
  *      index, and the deletes are written as tombstones;
  *   5. compaction runs when `Corpus.bm25CompactionTrigger` fires;
  *   6. one read-after-write BM25 serve runs for a document of the batch.
  * A pass is one batch. At these sizes the trigger fires on the sixth
  * batch, later than the untraced and traced passes reach, so compaction
  * is timed on its own after the traced pass and runs once more, checked,
  * at the end. */
object Ingest extends Workload {
  val Buckets = 16
  val TopK = 10
  /** Size-tiered trigger: compact when segments exceed this share of the
    * base (in postings). A batch adds about 4.8% of the base. */
  val RatioPct = 28

  final case class Planted(exact: Set[Long], near: Set[Long], deletes: Seq[Long])

  private var ledger = IndexedSeq.empty[Planted]
  private var ingestDir, corpusDir, ckpt, fpPath = ""
  private var bm25Base = ""
  private var bm25Segs = Vector.empty[String]
  private var deleted = Set.empty[Long]
  private var nextBatch = 0
  private var compactions = 0
  private var compactionsInLoop = 0
  private var buildS = Map.empty[String, Double]
  override def setupTasks: Map[String, Double] = buildS

  // Per timed batch.
  private val accepted = mutable.ArrayBuffer.empty[Long]
  private val dropped = mutable.ArrayBuffer.empty[Long]
  private val plantedNear = mutable.ArrayBuffer.empty[Long]
  private val progress = mutable.ArrayBuffer.empty[Map[String, Double]]
  private val segmentsLive = mutable.ArrayBuffer.empty[Double]
  /** Read-after-write serves of timed batches only; the warm-up batch's
    * serve runs cold code. */
  private val readAfterWriteS = mutable.ArrayBuffer.empty[Double]
  private var bytesWritten = 0L
  private var acceptedBytes = 0L
  private var servedDeleted = 0L
  private var timed = false
  /** The latest read-after-write serve: (probe document, terms, top 10). */
  private var lastRead = (0L, Seq.empty[String], Seq.empty[Long])

  private def readLedger(path: String): IndexedSeq[Planted] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    tree.elements().asScala.map { b =>
      def ids(k: String) = b.get(k).elements().asScala.map(_.asLong).toSeq
      Planted(ids("exact").toSet, ids("near").toSet, ids("deletes"))
    }.toIndexedSeq
  }

  private def idsDf(ctx: Ctx, ids: Iterable[Long]): DataFrame = {
    import ctx.spark.implicits._
    ids.toSeq.toDF("doc_id")
  }

  private def docs(ctx: Ctx) = Catalog.load(ctx.spark, ctx.data, "documents")

  /** The base corpus seeds the dedup history while the base BM25 impact
    * index builds on another thread. */
  def setup(ctx: Ctx): Seq[(String, () => Unit)] = Seq(
    "catalog" -> (() => {
      docs(ctx).schema
      ledger = readLedger(s"${ctx.data}/ledger.json")
    }),
    "base_index" -> (() => {
      ingestDir = ctx.dir("ingest")
      corpusDir = s"$ingestDir/corpus"
      ckpt = s"$ingestDir/checkpoint"
      fpPath = s"$ingestDir/fingerprints"
      new java.io.File(s"$ingestDir/landing.parquet").mkdirs()
      bm25Base = ctx.dir("ingest/bm25_base")
      buildS = Harness.parallel(2,
        "corpus" -> (() => Streams.writeBatch(docs(ctx).select("doc_id", "text"),
          corpusDir, -1L)),
        "bm25" -> (() => {
          Corpus.writeBm25ImpactIndex(docs(ctx), "text", bm25Base, Buckets)
          Corpus.writeBm25Tombstones(idsDf(ctx, Nil), bm25Base)
        }))
    }))

  /** Three distinct terms of `text`, chosen by `salt`. */
  def terms(text: String, salt: Long): Seq[String] =
    text.split(' ').distinct.sortBy(t => (t.hashCode ^ salt.toInt, t)).take(3).toSeq

  private def liveCorpus(ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(corpusDir).select("doc_id", "text")
      .join(idsDf(ctx, deleted), Seq("doc_id"), "left_anti")

  /** Rebuild BM25 over the live corpus with refreshed statistics, which
    * drops tombstoned documents. */
  private def compact(ctx: Ctx): Unit = {
    compactions += 1
    val base = ctx.dir(s"ingest/bm25_c$compactions")
    Corpus.writeBm25ImpactIndex(liveCorpus(ctx), "text", base, Buckets)
    Corpus.writeBm25Tombstones(idsDf(ctx, Nil), base)
    bm25Base = base
    bm25Segs = Vector.empty
    if (timed) bytesWritten += Harness.bytesUnder(base)
  }

  def ranked(rows: Array[Row], q: String, d: String, r: String): Seq[(Long, Long, Int)] =
    rows.toSeq.map(x => (x.getAs[Number](q).longValue, x.getAs[Number](d).longValue,
      x.getAs[Number](r).intValue))

  /** BM25 top 10 over base, segments and tombstones as they are:
    * (doc, score). */
  private def serveBm25(ctx: Ctx, t: Seq[String]): Seq[(Long, Double)] =
    ctx.collect(Corpus.bm25ImpactTopKMultisegDeleted(ctx.spark, bm25Base, bm25Segs, t,
      TopK, Buckets), "bm25").toSeq.map(r => (r.getLong(0), r.getDouble(2)))

  private def batch(ctx: Ctx): Unit = {
    val b = nextBatch
    require(b < ledger.size, s"the generated input has only ${ledger.size} batches")
    nextBatch += 1
    val s = ctx.spark
    Files.copy(Paths.get(s"${ctx.data}/batch_$b.parquet"),
      Paths.get(s"$ingestDir/landing.parquet/batch_$b.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val q = ctx.trace("streaming", "dedup_drain") {
      val stream = Streams.tableStream(s, ingestDir, "landing").select("doc_id", "text")
      val q = Streams.incrementalDedupSink(stream, corpusDir, n = 3, threshold = 0.5,
        checkpoint = Some(ckpt))
      q.awaitTermination()
      q
    }
    val p = q.lastProgress
    val keptDf = s.read.parquet(s"$corpusDir/batch=${p.batchId}")
    val kept = keptDf.collect().map(r => (r.getLong(0), r.getString(1)))
    val keptIds = kept.map(_._1).toSet
    ctx.trace("functions", "fingerprint") {
      keptDf.filter(expr("length(text) >= 8"))
        .select(col("doc_id"), PolyHash.polyHash(col("text")).as("fp_full"),
          expr(TextAnalysis.minWindowHashSpark("text")).as("fp_min8"))
        .write.mode("append").parquet(fpPath)
    }
    ctx.trace("ops", "index_append") {
      val seg = ctx.dir(s"ingest/bm25_seg_$b")
      Corpus.writeBm25Delta(s, keptDf, "text", bm25Base, seg, Buckets)
      bm25Segs :+= seg
      if (timed) bytesWritten += Harness.bytesUnder(seg)
    }
    deleted ++= ledger(b).deletes
    ctx.trace("ops", "tombstones") {
      Corpus.writeBm25Tombstones(idsDf(ctx, deleted), bm25Base)
      if (timed) bytesWritten += Harness.bytesUnder(s"$bm25Base/tombstones")
    }
    val fire = ctx.trace("ops", "compaction_trigger") {
      Corpus.bm25CompactionTrigger(s, bm25Base, bm25Segs, RatioPct).head.getBoolean(3)
    }
    if (fire) {
      ctx.trace("ops", "compaction")(compact(ctx))
      if (timed) compactionsInLoop += 1
    }
    val probe = kept.minBy(_._1)
    val probeTerms = terms(probe._2, ctx.seed)
    val t0 = System.nanoTime()
    val hits = ctx.trace("ops", "read_after_write")(serveBm25(ctx, probeTerms))
    if (timed) readAfterWriteS += (System.nanoTime() - t0) / 1e9
    servedDeleted += hits.count(h => deleted(h._1))
    lastRead = (probe._1, probeTerms, hits.map(_._1))
    if (timed) {
      val batchIds = s.read.parquet(s"${ctx.data}/batch_$b.parquet").select("doc_id")
        .collect().map(_.getLong(0))
      accepted ++= keptIds
      dropped ++= batchIds.filterNot(keptIds)
      plantedNear ++= ledger(b).near
      acceptedBytes += kept.map(_._2.getBytes("UTF-8").length.toLong).sum
      segmentsLive += 1 + bm25Segs.size
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }
      progress += Map(
        "streaming.trigger_ms" -> d.getOrElse("triggerExecution", 0.0),
        "streaming.add_batch_ms" -> d.getOrElse("addBatch", 0.0),
        "streaming.wal_commit_ms" -> d.getOrElse("walCommit", 0.0),
        "streaming.planning_ms" -> d.getOrElse("queryPlanning", 0.0),
        "streaming.rows_per_batch" -> p.numInputRows.toDouble)
    }
  }

  /** One untimed batch. */
  override def warmup(ctx: Ctx): Unit = {
    batch(ctx)
    timed = true
  }

  def pass(ctx: Ctx, p: Int): Seq[Op] = Seq(Op("batch", () => batch(ctx)))

  private var recallAt10 = 0.0

  /** BM25 top 10 of a single-segment index for every query of `qt(q_id,
    * term)` with the batched serve: (query, doc, rank). */
  def batchedBm25(ctx: Ctx, path: String, qt: DataFrame): Seq[(Long, Long, Int)] =
    ranked(Corpus.bm25ImpactTopKBatched(ctx.spark, path, qt, TopK, Buckets).collect(),
      "q_id", "doc_id", "rank")

  /** BM25 top 10 from exhaustive scoring of every posting of every query
    * term, without the threshold prune: (query, doc, rank). */
  def exhaustiveBm25(ctx: Ctx, path: String, qt: DataFrame): Seq[(Long, Long, Int)] =
    ranked(Similarity.topKCut(
      ctx.spark.read.parquet(s"$path/postings").join(broadcast(qt), "term")
        .groupBy(col("q_id").as("q_vec"), col("doc_id").as("neighbor"))
        .agg(expr("aggregate(transform(array_sort(collect_list(struct(term, impact))), " +
          "p -> p.impact), CAST(0.0 AS DOUBLE), (a, x) -> a + x)").as("score")),
      "score", TopK).collect(), "q_vec", "neighbor", "rank")

  def checks(ctx: Ctx): Seq[(String, Boolean, String)] = {
    val s = ctx.spark
    import s.implicits._
    timed = false
    val exact = ledger.take(nextBatch).flatMap(_.exact).toSet
    val kept = s.read.parquet(corpusDir).select("doc_id").collect().map(_.getLong(0)).toSet
    val keptExact = exact.intersect(kept)
    // Probes: the three newest live documents (the last batch's survivors)
    // and the last read-after-write query.
    val probes = liveCorpus(ctx).orderBy(col("doc_id").desc).limit(3).collect()
      .map(r => r.getLong(0) -> terms(r.getString(1), ctx.seed)).toSeq
    val qt = ((-1L -> lastRead._2) +: probes).flatMap { case (d, t) => t.map(d -> _) }
      .toDF("q_id", "term")
    // The surviving corpus, derived from the ledger and the sink's output
    // rather than from the index state.
    val survivors = docs(ctx).select("doc_id", "text")
      .unionByName(s.read.parquet(corpusDir).filter(col("batch") >= 0).select("doc_id", "text"))
      .join(idsDf(ctx, deleted), Seq("doc_id"), "left_anti")
    val fresh = ctx.dir("ingest/fresh")
    // Reads and rebuilds side by side: a deleted document's own terms must
    // not bring it back; a fresh build of the surviving corpus; the
    // engine's compaction.
    var deadHits = 0L
    val probeHits = new java.util.concurrent.ConcurrentHashMap[Long, Seq[Long]]()
    val (before, segsBefore) = (bm25Base, bm25Segs)
    def serveBefore(t: Seq[String]): Seq[Long] =
      ctx.collect(Corpus.bm25ImpactTopKMultisegDeleted(s, before, segsBefore, t, TopK, Buckets),
        "bm25").toSeq.map(_.getLong(0))
    // Serves are latency-bound, so the six tasks get a thread each.
    val tasks = Seq(
      "deleted" -> (() => {
        val dead = deleted.toSeq.sorted.head
        val text = docs(ctx).filter(col("doc_id") === dead).head.getString(1)
        deadHits = serveBefore(terms(text, ctx.seed)).count(deleted).toLong
      }),
      "fresh" -> (() => Corpus.writeBm25ImpactIndex(survivors, "text", fresh, Buckets)),
      "compaction" -> (() => compact(ctx))) ++
      probes.map { case (d, t) => s"probe_$d" -> (() => { probeHits.put(d, serveBefore(t)); () }) }
    Harness.parallel(tasks.size, tasks: _*)
    var freshHits, compacted, exhaustive = Seq.empty[(Long, Long, Int)]
    Harness.parallel(ctx.cores,
      "fresh" -> (() => freshHits = batchedBm25(ctx, fresh, qt)),
      "compacted" -> (() => compacted = batchedBm25(ctx, bm25Base, qt)),
      "exhaustive" -> (() => exhaustive = exhaustiveBm25(ctx, bm25Base, qt)))
    // The last read-after-write serve and the probes served from the same
    // state (frozen statistics, segments, tombstones) against the fresh
    // build, pooled over the four queries so one rank swap at the cut moves
    // recall by 1/40, not 1/10.
    val served = (-1L -> lastRead._3) +: probes.map { case (d, _) => d -> probeHits.get(d) }
    val want = served.map { case (q, _) => freshHits.filter(_._1 == q).map(_._2).toSet }
    recallAt10 = served.zip(want).map { case ((_, got), w) => got.count(w) }.sum.toDouble /
      math.max(1, want.map(_.size).sum)
    Seq(
      ("exact_duplicates_dropped", keptExact.isEmpty,
        s"${keptExact.size} of ${exact.size} planted exact duplicates kept"),
      ("no_tombstoned_document_served", deadHits + servedDeleted == 0L,
        s"$deadHits hits on a deleted document's terms, " +
          s"$servedDeleted on deleted documents in read-after-write serves"),
      ("compacted_equals_fresh_build", compacted.sorted == freshHits.sorted,
        s"${compacted.size} hits vs ${freshHits.size}"),
      ("bm25_batched_equals_exhaustive", compacted.sorted == exhaustive.sorted,
        s"${compacted.size} hits vs ${exhaustive.size}"))
  }

  def endToEnd(ctx: Ctx, loop: Loop): Map[String, Double] = {
    val index = (bm25Base +: bm25Segs).map(Harness.bytesUnder).sum
    val input = liveCorpus(ctx).agg(sum(expr("octet_length(text)"))).head.getLong(0)
    Map(
      "recall_at_10" -> recallAt10,
      "docs_per_s" -> accepted.size / math.max(loop.elapsedS, 1e-9),
      "read_after_write_s" -> Stats.median(readAfterWriteS.toSeq),
      "dedup_recall" -> plantedNear.count(dropped.toSet).toDouble / math.max(1, plantedNear.size),
      "space_amp" -> index.toDouble / math.max(1L, input))
  }

  override def layers(ctx: Ctx): Map[String, Double] = {
    val plantedAll = ledger.take(nextBatch).flatMap(p => p.exact ++ p.near).toSet
    val prog = if (progress.isEmpty) Map.empty[String, Double]
      else progress.head.keys.map(k => k -> Stats.median(progress.map(_(k)).toSeq)).toMap
    val compactionMs = ctx.trace("ops", "compaction") {
      Harness.timeS(compact(ctx)) * 1e3
    }
    prog ++ Probes.run(ctx) ++ Map(
      "ops.index_build_s" -> buildS("bm25"),
      "ops.dedup_ms" -> ctx.trace.medianMs("dedup_drain"),
      "ops.dedup_precision" -> dropped.count(plantedAll).toDouble / math.max(1, dropped.size),
      "ops.index_append_ms" -> ctx.trace.medianMs("index_append"),
      "ops.tombstone_ms" -> ctx.trace.medianMs("tombstones"),
      "ops.compaction_ms" -> compactionMs,
      "ops.compactions" -> compactionsInLoop.toDouble,
      "ops.write_amp" -> bytesWritten.toDouble / math.max(1L, acceptedBytes),
      "ops.segments_live" -> Stats.median(segmentsLive.toSeq))
  }
}
