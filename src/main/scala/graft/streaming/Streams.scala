package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, Trigger, ValueState}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.engine.Catalog

/** Structured-Streaming operators over the `events` table. The reference has
  * no streaming surface at all (SURVEY.md §2.8); this is north-star
  * territory: event-time windows + watermarks, and custom session state via
  * `flatMapGroupsWithState`.
  *
  * Two shapes, one helper each:
  *   - a DRAINED query (`tumblingAgg`, `staticEnrichAgg`, `dedupStream`,
  *     `purchaseClickJoin`, `anomalyStream`) runs its stream to completion
  *     through [[drain]] and returns the rows as a local frame: it is built
  *     and run on a clone of the caller's session, so the caller's session
  *     keeps its conf, gains no temp view and holds no query;
  *   - a SINK (`foreachBatchParquetSink`, `quarantineSink`,
  *     `incrementalDedupSink`, `mvRefreshSink`, `mvRefreshSinkPartitioned`,
  *     `annServeSink`) starts the caller's stream through [[microBatches]]
  *     and returns the running `StreamingQuery`; each micro-batch writes an
  *     idempotent `batch=<id>` directory.
  *
  * Scale notes: the tumbling aggregation is partial-aggregated per
  * microbatch and keyed-state-backed; the watermark bounds state. Sessions
  * are keyed by user, so state scales with |active users|, not |events|;
  * the event-time timeout evicts idle users.
  */
object Streams {

  final case class Ev(user_id: Long, us: Long)
  final case class Session(
      user_id: Long, session_start_us: Long, session_end_us: Long, n_events: Long)

  /** 30-minute session gap, in microseconds. */
  val SessionGapUs: Long = 30L * 60 * 1000 * 1000

  /** Shuffle partitions, and so state stores, of every drained query (see
    * [[drain]]). */
  val StatePartitions = 8

  /** Run the stream `build` makes on `spark` to completion and return its
    * rows as a local frame on `spark`.
    *
    * The stream is built and started on a clone of `spark`; only the clone's
    * conf changes:
    *   - `spark.sql.shuffle.partitions` = [[StatePartitions]]. A stateful
    *     query pins its state-store count to the shuffle partition number at
    *     its first batch, and every store adds per-batch checkpoint/commit
    *     overhead, so state partitioning follows KEY cardinality, not core
    *     count (halves wall time for the bench-scale streams: 32 stores → 8).
    *   - with `skipNoDataBatch`, no trailing NO-DATA micro-batch. After the
    *     data batch drains, Spark runs one more empty batch to advance the
    *     watermark: it EMITS watermark-gated results (left-outer null rows,
    *     append-mode final windows, event-time timers), evicts state, and
    *     re-commits every state store instance (measured: 1.4–1.6 s of a
    *     3.6 s stream-stream-join row, 32 instances × 2 batches). For an
    *     INNER stream-stream join (matches emit eagerly in the data batch)
    *     and for a Complete-mode aggregate (each batch re-emits the full
    *     result) the empty batch only evicts state the one-shot query
    *     discards, so results are bit-identical (the rows' DuckDB oracles
    *     gate it). Queries whose results NEED that batch (left-outer
    *     emission, sessionization timers, append-mode windows) keep it.
    *
    * Both confs are latched when `start()` runs: the query copies its
    * session's conf into a session of its own. The query drains with
    * `Trigger.AvailableNow` into a memory sink, whose rows already sit on
    * the driver; collecting them is a `LocalTableScan` that runs no job. The
    * caller's session ends as it started: no conf set, no temp view, no
    * active query. Any other conf the caller set (a state-store provider,
    * say) reaches the clone and so the query. */
  private[graft] def drain(
      spark: SparkSession, mode: OutputMode, skipNoDataBatch: Boolean = false)(
      build: SparkSession => DataFrame): DataFrame = {
    val s = Bridge.cloneSession(spark)
    s.conf.set("spark.sql.shuffle.partitions", StatePartitions.toString)
    if (skipNoDataBatch)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    build(s).writeStream.format("memory").queryName("graft_drain")
      .outputMode(mode).trigger(Trigger.AvailableNow()).start().awaitTermination()
    val sink = s.table("graft_drain")
    spark.createDataFrame(java.util.Arrays.asList(sink.collect(): _*), sink.schema)
  }

  /** Start `stream` with `perBatch` run on every micro-batch and its id,
    * drained with `Trigger.AvailableNow`. An explicit checkpoint makes the
    * sink resumable: a restarted query continues from the recorded source
    * offsets (only NEW files process) and a replayed batch rewrites its own
    * batch=<id> dir. Without one, Spark uses a temp checkpoint — fine for
    * drain-once conformance runs. */
  private def microBatches(stream: DataFrame, checkpoint: Option[String])(
      perBatch: (DataFrame, Long) => Unit): StreamingQuery = {
    val w = stream.writeStream
      .foreachBatch((batch: Dataset[Row], id: Long) => perBatch(batch.toDF(), id))
      .trigger(Trigger.AvailableNow())
    checkpoint.fold(w)(c => w.option("checkpointLocation", c)).start()
  }

  /** Run `body` (which should start+drain a streaming query) with the
    * RocksDB state-store provider instead of the default in-memory HDFS-
    * backed one. The provider is latched per query at start, so scoping the
    * session conf around `start()` is sufficient. Use when keyed state
    * outgrows executor heap (large dedup key spaces, wide session maps):
    * state lives off-heap/on-disk with incremental checkpointing, trading
    * per-batch latency for unbounded-state headroom. Local-bench scale
    * favors the default; a 100 TB keyed stream favors RocksDB. */
  def withRocksDBStateStore[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Parquet-backed event stream source, robust to both physical layouts:
    * the driver testdata stores events as a single FILE `events.parquet`
    * (the file stream source requires a directory, so stream sfDir with a
    * glob pinned to that file name), while replica dirs (ScaleSweep) and
    * ordinary Spark writers produce a parquet DIRECTORY of part files —
    * stream that directory itself. The schema is the catalog's resolution
    * (which also checks an INT64 `ts`), and timestamps normalize identically
    * to the batch Catalog path. */
  def eventStream(spark: SparkSession, sfDir: String): DataFrame =
    Catalog.normalizeEventTs(tableStream(spark, sfDir, "events"))

  /** Parquet-backed stream over any catalog table, under its resolved
    * [[Catalog.schema]] (same layout robustness as [[eventStream]]; no
    * timestamp normalization). */
  def tableStream(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = Catalog.path(sfDir, table)
    val schema = Catalog.schema(spark, sfDir, table)
    if (new java.io.File(path).isDirectory)
      spark.readStream.schema(schema).parquet(path)
    else
      spark.readStream.schema(schema)
        .option("pathGlobFilter", s"$table.parquet").parquet(sfDir)
  }

  /** Tumbling 1-hour event-time windows over a parquet-backed stream:
    * readStream → watermark → window agg → memory sink, drained with
    * `Trigger.AvailableNow` (batch-on-stream). Complete output mode so every
    * window is visible to the conformance check. Sum is DECIMAL-exact
    * (order-independent across microbatches). */
  def tumblingAgg(spark: SparkSession, sfDir: String): DataFrame =
    drain(spark, OutputMode.Complete) { s =>
      eventStream(s, sfDir)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_val"))
        .select(col("window.start").as("ws"), col("event_type"), col("cnt"), col("sum_val"))
    }.orderBy("ws", "event_type")

  /** Stream-static enrichment: the event stream joins a broadcast static
    * dimension (customer segment by user id) BEFORE the windowed aggregate —
    * the canonical streaming-enrichment shape. The static side is planned
    * per microbatch as an ordinary broadcast hash join (stateless — no join
    * state, unlike stream-stream joins); watermarked tumbling windows bound
    * the aggregation state. Left join + COALESCE keeps unmatched users
    * (an inner join would silently drop late dimension rows at 100 TB). */
  def staticEnrichAgg(spark: SparkSession, sfDir: String): DataFrame =
    drain(spark, OutputMode.Complete) { s =>
      val dim = Catalog.load(s, sfDir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      eventStream(s, sfDir)
        .withWatermark("ts", "1 hour")
        .join(broadcast(dim), Seq("user_id"), "left")
        .groupBy(window(col("ts"), "1 hour"),
          coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_val"))
        .select(col("window.start").as("ws"), col("segment"), col("cnt"), col("sum_val"))
    }.orderBy("ws", "segment")

  /** Streaming dedup: at-most-one event per (user, type, hour), state bounded
    * by the watermark (`dropDuplicatesWithinWatermark` evicts keys once the
    * watermark passes them — the 100 TB-safe form of streaming distinct).
    * Emits per-type distinct counts so the result is order-insensitive. */
  def dedupStream(spark: SparkSession, sfDir: String): DataFrame =
    // Complete-mode aggregate: the no-data batch may be skipped (see drain).
    drain(spark, OutputMode.Complete, skipNoDataBatch = true) { s =>
      eventStream(s, sfDir)
        .withColumn("hour", date_trunc("hour", col("ts")))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type", "hour")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
    }.orderBy("event_type")

  /** Stream-stream inner join: each purchase matched to the same user's
    * clicks within the preceding 30 minutes. Both sides carry watermarks and
    * the join condition bounds event time on both, so Spark can evict join
    * state — the scalable form of a streaming join (unbounded state
    * otherwise). Inner matches emit eagerly; `AvailableNow` drains the
    * history deterministically. */
  def purchaseClickJoin(spark: SparkSession, sfDir: String): DataFrame =
    // Inner join: the no-data batch may be skipped (see drain); NOT for the
    // left-outer variant, whose null rows emit on watermark advance.
    drain(spark, OutputMode.Append, skipNoDataBatch = true) { s =>
      def stream = eventStream(s, sfDir)
      val clicks = stream.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("click_id"))
        .withWatermark("c_ts", "1 hour")
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
        .withWatermark("p_ts", "1 hour")
      joinPurchasesToClicks(purchases, clicks, "inner")
    }.orderBy("p_id", "click_id")

  /** The time-bounded purchase⋈click shape shared by the inner query and
    * the outer-join semantics spec. Both inputs must already carry
    * watermarks; the condition bounds event time on BOTH sides, so join
    * state is evictable whatever the join type. For `left_outer`, an
    * unmatched purchase emits its null-padded row only once the watermark
    * passes its match window — i.e. when the engine can PROVE no future
    * click can match — never speculatively (pinned in `StreamingSpec`). */
  def joinPurchasesToClicks(
      purchases: DataFrame, clicks: DataFrame, joinType: String): DataFrame =
    purchases.join(clicks,
        expr("user_id = p_user AND c_ts >= p_ts - INTERVAL 30 MINUTES AND c_ts <= p_ts"),
        joinType)
      .select(col("p_id"), col("click_id"))

  /** Session state machine shared by the batch and streaming variants: split
    * a user's time-ordered event micros into sessions at gaps > the session
    * gap. Pure and deterministic. */
  def sessionsOf(userId: Long, sortedUs: Seq[Long]): Seq[Session] = {
    if (sortedUs.isEmpty) return Nil
    val out = Seq.newBuilder[Session]
    var start = sortedUs.head
    var last = sortedUs.head
    var n = 1L
    sortedUs.tail.foreach { us =>
      if (us - last > SessionGapUs) {
        out += Session(userId, start, last, n)
        start = us; n = 0L
      }
      last = us; n += 1
    }
    out += Session(userId, start, last, n)
    out.result()
  }

  /** Batch sessionization via typed `KeyValueGroupedDataset.flatMapGroups`:
    * one shuffle on user_id, per-user in-memory pass (bounded by events per
    * user, not table size). */
  def sessionizeBatch(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), unix_micros(col("ts")).as("us")).as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroups((uid: Long, it: Iterator[Ev]) =>
        sessionsOf(uid, it.map(_.us).toSeq.sorted).iterator)
      .toDF()
  }

  /** Streaming sessionization with custom keyed state: buffers each user's
    * event times in `GroupState`, emits closed sessions when the event-time
    * timeout fires (watermark passed last-seen + gap), keeps the open tail in
    * state. Exercised by the StreamingSpec against [[sessionizeBatch]]. */
  def sessionizeStream(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(onUser)
      .toDF()
  }

  /** Exactly-once parquet sink via `foreachBatch`: each microbatch
    * OVERWRITES its own `batch=<id>` directory, so replaying a batch after
    * a failure/restart rewrites the same files instead of duplicating rows —
    * idempotence from deterministic batch ids + directory-scoped overwrite,
    * the standard pattern for sinks without transactional support. Combined
    * with the checkpoint (which replays at-least-once), the sink is
    * effectively exactly-once. */
  def foreachBatchParquetSink(
      stream: DataFrame, path: String,
      checkpoint: Option[String] = None): StreamingQuery =
    microBatches(stream, checkpoint)(writeBatch(_, path, _))

  /** The per-batch write — exposed so tests can replay a batch id and
    * assert idempotence. */
  def writeBatch(batch: DataFrame, path: String, id: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$path/batch=$id")

  /** Streaming quality gate with quarantine — the ingest-validation
    * pattern: each microbatch splits on `goodPred`; passing rows land in
    * `path/clean/batch=<id>`, failing rows in `path/quarantine/batch=<id>`
    * (kept, never dropped — quarantined data gets inspected and replayed).
    * Both sides use the idempotent batch-dir overwrite, so a replayed
    * batch rewrites exactly itself on both sides. */
  def quarantineSink(
      stream: DataFrame, goodPred: org.apache.spark.sql.Column, path: String,
      checkpoint: Option[String] = None): StreamingQuery =
    microBatches(stream, checkpoint) { (batch, id) =>
      val b = batch.persist()
      try {
        writeBatch(b.filter(goodPred), s"$path/clean", id)
        writeBatch(b.filter(!goodPred), s"$path/quarantine", id)
      } finally b.unpersist()
    }

  /** Streaming incremental dedup — the daily-ingest pipeline in streaming
    * form: each microbatch of (doc_id, text) documents is deduped against
    * the ACCUMULATED kept corpus at `corpusDir` (and within-batch,
    * earlier-id convention) via
    * [[graft.ops.Dedup.incrementalMinhashDedup]], and its kept docs append
    * as a `batch=<id>` directory — the same idempotent-overwrite discipline
    * as [[foreachBatchParquetSink]], so a replayed batch rewrites itself.
    * Seed `corpusDir` with the pre-existing corpus (any `batch=*` dir)
    * before starting. At production scale the corpus's signature/shingle
    * index would be a persisted artifact updated per batch rather than
    * recomputed from text ([[graft.ops.Dedup.minhashBandSignatures]] is
    * exactly that layout). */
  def incrementalDedupSink(
      stream: DataFrame, corpusDir: String, n: Int, threshold: Double,
      checkpoint: Option[String] = None): StreamingQuery =
    microBatches(stream, checkpoint) { (batch, id) =>
      // The batch feeds four plan branches. A lazy local checkpoint
      // computes each of its partitions once, in the first job that reads
      // it, and every other branch reads those blocks. A persist() reads it
      // once too, but each branch then waits on a cache stage of its own:
      // the sf0.001 drain ran 35 Spark jobs that way, and 19 this way.
      val b = batch.localCheckpoint(eager = false)
      try {
        val history = b.sparkSession.read.parquet(corpusDir).select("doc_id", "text")
        val flags = graft.ops.Dedup.incrementalMinhashDedup(
          history, b, "doc_id", "text", n, threshold)
        val kept = b.join(flags.filter(col("kept")).select("doc_id"), "doc_id")
        writeBatch(kept, corpusDir, id)
      } finally b.queryExecution.logical match {
        case r: LogicalRDD => r.rdd.unpersist()
        case _ =>
      }
    }

  /** Streaming incrementally-maintained aggregate (MV) sink: each
    * microbatch of new base rows appends as an idempotent `batch=<id>`
    * dir, then the MV at `mvPath` refreshes by AFFECTED GROUPS only
    * ([[graft.ops.Relational.refreshAffectedGroups]]): groups the batch
    * touches are re-aggregated from the accumulated base, every other MV
    * row carries over VERBATIM through the rewrite-and-swap. Seed
    * `baseDir` (any `batch=*` dir) and `mvPath` (the seed's aggregate)
    * before starting. Replay is idempotent: the batch dir overwrites
    * itself and the refresh re-derives the same MV from the same base. At
    * 100 TB untouched MV rows cost IO only, never re-aggregation — with
    * the MV key-partitioned on disk, only affected partitions rewrite. */
  def mvRefreshSink(
      stream: DataFrame, baseDir: String, mvPath: String, keyCol: String,
      aggregate: DataFrame => DataFrame,
      checkpoint: Option[String] = None): StreamingQuery =
    microBatches(stream, checkpoint) { (batch, id) =>
      val s = batch.sparkSession
      val b = batch.persist()
      try {
        writeBatch(b, baseDir, id)
        val base = s.read.parquet(baseDir)
        graft.ops.Relational.copyOnWrite(s, mvPath) { mv =>
          graft.ops.Relational.refreshAffectedGroups(
            mv, base, b.select(keyCol), keyCol)(aggregate)
        }
      } finally b.unpersist()
    }

  /** [[mvRefreshSink]] with a KEY-PARTITIONED MV: the aggregate is stored
    * partitioned by `mv_bucket = pmod(hash(key), buckets)` and each
    * microbatch rewrites ONLY the bucket partitions its keys touch
    * (dynamic partition overwrite) — untouched MV buckets are neither
    * read nor rewritten (this path never reads the MV at all), closing
    * [[mvRefreshSink]]'s whole-MV-IO gap. Per batch: affected buckets ≤
    * min(buckets, |batch keys|) (a bounded driver collect of bucket ids,
    * ≤ `buckets` ints), every group inside an affected bucket
    * re-aggregates from the base FILTERED to those buckets — a scan-time
    * predicate here; at 100 TB lay the base out bucketed/partitioned on
    * the same key hash so the filter becomes a partition prune instead of
    * a full scan. Seed the MV with the same bucket column
    * ([[mvBucket]]) and partitioning before starting. */
  def mvRefreshSinkPartitioned(
      stream: DataFrame, baseDir: String, mvDir: String, keyCol: String,
      buckets: Int, aggregate: DataFrame => DataFrame,
      checkpoint: Option[String] = None): StreamingQuery =
    microBatches(stream, checkpoint) { (batch, id) =>
      val b = batch.persist()
      try {
        writeBatch(b, baseDir, id)
        val touched = b.select(mvBucket(col(keyCol), buckets).as("mv_bucket"))
          .distinct().collect().map(_.getInt(0)).toSeq
        if (touched.nonEmpty) {
          val affBase = batch.sparkSession.read.parquet(baseDir)
            .filter(mvBucket(col(keyCol), buckets).isin(touched: _*))
          aggregate(affBase)
            .withColumn("mv_bucket", mvBucket(col(keyCol), buckets))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("mv_bucket")
            .parquet(mvDir)
        }
      } finally b.unpersist()
    }

  /** The MV bucket key for [[mvRefreshSinkPartitioned]] — also used to
    * seed the MV with matching partitioning. */
  def mvBucket(key: org.apache.spark.sql.Column, buckets: Int): org.apache.spark.sql.Column =
    pmod(hash(key), lit(buckets))

  /** Streaming ANN serve — online retrieval: each microbatch of query
    * vectors probes the DISK-persisted IVF index
    * ([[graft.ops.Similarity.writeIvfIndex]]) via
    * [[graft.ops.Similarity.knnIvfPersisted]] (representatives broadcast,
    * cell join partition-pruned to the probed cells), and its top-k hits
    * land as an idempotent `batch=<id>` parquet dir — a replayed batch
    * rewrites exactly itself. The index is a build-job artifact the serve
    * stream only reads; at 100 TB the per-batch work is |batch|·nprobe
    * pruned cell scans, never a full-index pass. */
  def annServeSink(
      stream: DataFrame, indexPath: String, outPath: String,
      idCol: String, vecCol: String, labelCol: String, nprobe: Int, k: Int,
      checkpoint: Option[String] = None): StreamingQuery =
    microBatches(stream, checkpoint) { (batch, id) =>
      val hits = graft.ops.Similarity.knnIvfPersisted(
        batch.sparkSession, indexPath, batch, idCol, vecCol, labelCol, nprobe, k)
      writeBatch(hits, outPath, id)
    }

  /** The same session state machine on Spark 4's MODERN arbitrary-state API
    * (`transformWithState`): explicit typed state handles (ListState event
    * buffer + ValueState armed-timer) and event-time timers, instead of the
    * single-blob `GroupState` of [[sessionizeStream]]. The previous timer is
    * deleted before re-arming so a stale early timer cannot close an
    * extended session. Requires the RocksDB state-store provider — the
    * API's contract — so run queries under [[withRocksDBStateStore]]. */
  class SessionProcessor
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp, Long), Session] {
    @transient private var buf: ListState[Long] = _
    @transient private var armed: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      buf = getHandle.getListState[Long]("us", Encoders.scalaLong, TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("tmr", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(
        uid: Long, rows: Iterator[(Long, java.sql.Timestamp, Long)],
        tv: TimerValues): Iterator[Session] = {
      val all = (buf.get().toSeq ++ rows.map(_._3)).sorted
      if (all.isEmpty) return Iterator.empty
      val done = sessionsOf(uid, all)
      val tail = done.last
      buf.put(all.filter(_ >= tail.session_start_us).toArray)
      if (armed.exists()) getHandle.deleteTimer(armed.get())
      val t = tail.session_end_us / 1000 + SessionGapUs / 1000
      getHandle.registerTimer(t)
      armed.update(t)
      done.init.iterator
    }

    override def handleExpiredTimer(
        uid: Long, tv: TimerValues, info: ExpiredTimerInfo): Iterator[Session] = {
      val all = buf.get().toSeq.sorted
      buf.clear()
      armed.clear()
      sessionsOf(uid, all).iterator
    }
  }

  /** [[sessionizeStream]] built on `transformWithState` — see
    * [[SessionProcessor]]. */
  def sessionizeTws(events: DataFrame, watermarkDelay: String = "10 minutes"): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .withWatermark("ts", watermarkDelay)
      .as[(Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor, TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  final case class PrevEv(us: Long, eid: Long, cents: Long)
  final case class AnomalyHit(
      event_id: Long, user_id: Long, cents: Long,
      n_prev: Long, dev_sq: Long, bound: Long)

  /** Streaming form of [[graft.ops.Pipeline.rollingAnomaly]]: per-key state
    * is the trailing `lookback` events (a bounded ListState ring — state
    * size is keys × lookback regardless of stream length); each event is
    * tested against the integer-cents trailing stats BEFORE joining the
    * ring. No timers, no watermark-dependent emission — output rows are
    * only the anomalies. Trailing order across microbatches relies on
    * per-key event-time-ordered arrival (exact under a single
    * AvailableNow drain, which is how conformance runs it). */
  class AnomalyProcessor(lookback: Int, minPrev: Int, zSq: Long)
      extends StatefulProcessor[Long, (Long, Long, Long, Long), AnomalyHit] {
    @transient private var buf: ListState[PrevEv] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getListState[PrevEv]("buf", Encoders.product[PrevEv], TTLConfig.NONE)

    override def handleInputRows(
        uid: Long, rows: Iterator[(Long, Long, Long, Long)],
        tv: TimerValues): Iterator[AnomalyHit] = {
      var window = buf.get().toVector // oldest-first, ≤ lookback entries
      val out = Vector.newBuilder[AnomalyHit]
      rows.toVector.sortBy(r => (r._2, r._3)).foreach { case (_, us, eid, c) =>
        val n = window.size.toLong
        if (n >= minPrev) {
          val s = window.iterator.map(_.cents).sum
          val q = window.iterator.map(p => p.cents * p.cents).sum
          val dev = c * n - s
          val bound = zSq * (n * q - s * s)
          if (dev * dev > bound)
            out += AnomalyHit(eid, uid, c, n, dev * dev, bound)
        }
        window = (window :+ PrevEv(us, eid, c)).takeRight(lookback)
      }
      buf.put(window.toArray)
      out.result().iterator
    }
  }

  /** Run [[AnomalyProcessor]] over the parquet-backed event stream and
    * drain it; cents derive exactly as in the batch operator. Requires the
    * RocksDB provider (transformWithState's contract). */
  def anomalyStream(spark: SparkSession, sfDir: String,
      lookback: Int = 20, minPrev: Int = 10, zSq: Long = 9L): DataFrame =
    drain(spark, OutputMode.Append) { s =>
      import s.implicits._
      eventStream(s, sfDir)
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), round(col("value") * 100).cast("long").as("cents"))
        .as[(Long, Long, Long, Long)]
        .groupByKey(_._1)
        .transformWithState(new AnomalyProcessor(lookback, minPrev, zSq),
          TimeMode.None(), OutputMode.Append())
        .toDF()
    }.orderBy("event_id")

  /** Per-user state transition for [[sessionizeStream]]. Top-level (not a
    * closure) so the task serializes only the function, no enclosing scope.
    * Keyed rows keep the watermarked `ts` column all the way to the stateful
    * operator (a typed .map would strip the event-time tag). */
  private def onUser(uid: Long, in: Iterator[(Long, java.sql.Timestamp, Long)],
      state: GroupState[Seq[Long]]): Iterator[Session] = {
    val buffered = state.getOption.getOrElse(Seq.empty)
    if (state.hasTimedOut) {
      // Watermark passed the open session's end + gap: close everything.
      state.remove()
      sessionsOf(uid, buffered.sorted).iterator
    } else {
      val all = (buffered ++ in.map(_._3)).sorted
      val done = sessionsOf(uid, all)
      // Sessions strictly before the open tail are final once the watermark
      // passes their end + gap; emit them then, keep only the tail now.
      val tail = done.last
      val keep = all.filter(_ >= tail.session_start_us)
      state.update(keep)
      state.setTimeoutTimestamp(tail.session_end_us / 1000 + SessionGapUs / 1000)
      done.init.iterator
    }
  }
}
