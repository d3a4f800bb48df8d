package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryIdleEvent, QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.engine.Catalog
import graft.streaming.Streams

/** The drain contract of [[Streams]] on the sf0.001 fixture, and the Spark
  * jobs the streaming family's rows run while they are built.
  *
  * A drained query leaves the caller's session as it found it: no conf
  * changed while the query starts (read by a listener on the caller's own
  * query manager, which runs inside `start()` for a query started on that
  * session, and by a context-wide listener, which sees every query), no
  * temp view, no active query. Its state operators still run at
  * [[Streams.StatePartitions]], each drain runs one micro-batch, and every
  * result equals the same query run as a batch. */
class StreamDrainSpec extends SparkSpec with SlowSuite {
  private val dir = "/root/testdata/sf0.001"
  private val confKeys = Seq("spark.sql.shuffle.partitions",
    "spark.sql.streaming.noDataMicroBatches.enabled")

  private def callerConf: Seq[String] = confKeys.map(spark.conf.get)

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  /** Every query start and micro-batch the context sees, in order; job
    * starts counted. Read after `ListenerDrain`. */
  private class Watch extends SparkListener {
    val confAtStart = mutable.Buffer.empty[Seq[String]]
    val batches = mutable.LinkedHashMap.empty[java.util.UUID, mutable.Buffer[Long]]
    val statePartitions = mutable.Buffer.empty[Int]
    @volatile var jobs = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: QueryStartedEvent =>
        confAtStart += callerConf
        batches(s.runId) = mutable.Buffer.empty
      case p: QueryProgressEvent =>
        batches.get(p.progress.runId).foreach(_ += p.progress.batchId)
        statePartitions ++= p.progress.stateOperators.map(_.numShufflePartitions.toInt)
      case _ =>
    }
  }

  private def watched[T](body: Watch => T): T = {
    val watch = new Watch
    val sc = spark.sparkContext
    org.apache.spark.graftx.ListenerDrain(sc)
    sc.addSparkListener(watch)
    try body(watch) finally sc.removeSparkListener(watch)
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  test("a drain leaves the caller's session as it found it") {
    val events = Catalog.load(spark, dir, "events")
    val before = (callerConf, tempViews)
    val sameSession = mutable.Buffer.empty[Seq[String]]
    val onCaller = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = sameSession += callerConf
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(onCaller)
    val (results, watch) = try watched { w =>
      val drained = Seq(
        Streams.tumblingAgg(spark, dir),
        Streams.staticEnrichAgg(spark, dir),
        Streams.dedupStream(spark, dir),
        Streams.purchaseClickJoin(spark, dir)).map(rows)
      org.apache.spark.graftx.ListenerDrain(spark.sparkContext)
      (drained, w)
    } finally spark.streams.removeListener(onCaller)

    assert(watch.confAtStart.size === 4)
    assert((sameSession ++ watch.confAtStart).forall(_ == before._1),
      s"caller conf while a drain started: ${sameSession ++ watch.confAtStart}, " +
        s"before: ${before._1}")
    assert(callerConf === before._1)
    assert(tempViews === before._2)
    assert(!tempViews.exists(_.startsWith("graft_")))
    assert(spark.streams.active.isEmpty)

    // state stores follow StatePartitions; one micro-batch each: the
    // Complete-mode windows evict no state, so they never need the trailing
    // no-data batch, and dedup and the join skip theirs
    assert(watch.statePartitions.nonEmpty &&
      watch.statePartitions.forall(_ == Streams.StatePartitions),
      watch.statePartitions)
    assert(watch.batches.values.map(_.toSeq).toSeq === Seq.fill(4)(Seq(0L)))

    // the same queries as batches
    def windowed(df: DataFrame, key: String): DataFrame =
      df.groupBy(window(col("ts"), "1 hour"), col(key))
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_val"))
        .select(col("window.start").as("ws"), col(key), col("cnt"), col("sum_val"))
    val dim = Catalog.load(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("c_ts"), col("event_id").as("click_id"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("event_id").as("p_id"))
    val batch = Seq(
      windowed(events, "event_type").orderBy("ws", "event_type"),
      windowed(events.join(broadcast(dim), Seq("user_id"), "left")
          .withColumn("segment", coalesce(col("c_mktsegment"), lit("UNKNOWN"))),
        "segment").orderBy("ws", "segment"),
      events.withColumn("hour", date_trunc("hour", col("ts")))
        .dropDuplicates("user_id", "event_type", "hour")
        .groupBy("event_type").agg(count(lit(1)).as("n")).orderBy("event_type"),
      Streams.joinPurchasesToClicks(purchases, clicks, "inner")
        .orderBy("p_id", "click_id")).map(rows)
    for ((got, want) <- results.zip(batch)) {
      assert(got.nonEmpty)
      assert(got === want)
    }
  }

  test("streaming family: Spark jobs run while each row is built") {
    // The rows' build jobs: schema inference per base-table read, the
    // micro-batches of every drain and sink, and the sink rows' seed writes
    // and read-backs. Pinned per row.
    val pinned = Seq(
      "stream_tumbling_agg" -> 2,
      "stream_static_enrich" -> 4,
      "stream_stream_join" -> 3,
      "stream_e2e_incremental" -> 3,
      "stream_dedup_events" -> 2,
      "stream_sliding_agg" -> 1,
      "stream_mv_refresh" -> 16,
      "stream_mv_refresh_partitioned" -> 13,
      "stream_incremental_dedup_sink" -> 21,
      "stream_ann_serve" -> 20)
    Catalog.load(spark, dir, "events").schema // memoized ts check, if any
    val counted = watched { w =>
      pinned.map { case (row, _) =>
        org.apache.spark.graftx.ListenerDrain(spark.sparkContext)
        val before = w.jobs
        SparkEntry.queries(row)(spark, dir)
        org.apache.spark.graftx.ListenerDrain(spark.sparkContext)
        row -> (w.jobs - before)
      }
    }
    println(s"[build-jobs] $counted")
    assert(counted === pinned)
  }
}
