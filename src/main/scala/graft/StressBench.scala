package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.engine.Catalog
import graft.ops.Dedup
import graft.streaming.Streams

/** Scale-stress harness (dev tool, not a conformance entry point): runs the
  * iterative / stateful operators against a 10×-replicated documents corpus
  * and a high-cardinality keyed stream, printing wall times so STATUS.md can
  * record scale deltas round over round.
  *
  *   - 10× corpus: every doc replicated with 9 id-offset clones, so every
  *     near-dup family grows 10× and every LSH bucket gets 10× hotter —
  *     exactly the load the [[graft.ops.Skew.capBuckets]] defense exists for.
  *   - Streaming dedup keyed by event_id (one state entry per event) with
  *     the default HDFS-backed store vs RocksDB, same query both times.
  */
object StressBench {

  def timed[T](name: String)(f: => T): (T, Double) = {
    val r = Runs.time(f)(identity).fold(e => throw e, identity)
    println(f"[stress] $name%-52s ${r.totalS}%8.2f s")
    (r.result, r.totalS)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.engine.GraftSession.local("graft-stress")
    import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

    val docs = Catalog.load(spark, sfDir, "documents").select("doc_id", "text")
    val big = (0 until 10)
      .map(k => docs.select(
        (col("doc_id") + lit(k.toLong * 1000000000L)).as("doc_id"), col("text")))
      .reduce(_ unionByName _)
      .persist(MEMORY_AND_DISK)
    println(s"[stress] corpus rows: ${big.count()} (10x $sfDir documents)")

    val (nCap, _) = timed("minhash LSH pairs, cap=64") {
      Dedup.minhashLshPairs(big, "doc_id", "text", 3, 0.5, maxBucket = 64).count()
    }
    val (nDef, _) = timed("minhash LSH pairs, cap=4096 (default)") {
      Dedup.minhashLshPairs(big, "doc_id", "text", 3, 0.5).count()
    }
    println(s"[stress] pairs capped=$nCap default=$nDef")

    val edges = Dedup.minhashLshPairs(big, "doc_id", "text", 3, 0.5, maxBucket = 64)
    val (nComp, _) = timed("connected components over the 10x corpus") {
      Dedup.connectedComponents(big.select("doc_id"), edges, "doc_id")
        .select(countDistinct(col("component"))).head.getLong(0)
    }
    println(s"[stress] components: $nComp")

    val (nSim, _) = timed("simhash pairs, cap=64") {
      Dedup.simhashPairs(big, "doc_id", "text", maxHamming = 3, maxBucket = 64).count()
    }
    println(s"[stress] simhash pairs capped=$nSim")

    val (nSpan, _) = timed("duplicated spans over the 10x corpus (w=20)") {
      Dedup.duplicatedSpans(big, "doc_id", "text", w = 20)
        .filter(col("n_dup_spans") > 0).count()
    }
    println(s"[stress] docs with duplicated spans: $nSpan")

    val (nCont, _) = timed("containment pairs, df cap=64") {
      Dedup.containmentPairs(big, "doc_id", "text", n = 3, threshold = 0.5,
        maxDf = 64).count()
    }
    println(s"[stress] containment pairs capped=$nCont")

    // The EXACT pair miners under the same 10× clone families: uncapped
    // their true pair output is quadratic by definition (the ScaleSweep
    // measured 980× output at 10×); the caps keep them bounded.
    val (nNg, _) = timed("ngram-jaccard pairs, bucket cap=64") {
      Dedup.ngramJaccardPairs(big, "doc_id", "text", n = 2, threshold = 0.6,
        bucketWidth = 16, maxBucket = 64).count()
    }
    println(s"[stress] ngram pairs capped=$nNg")
    val (nLev, _) = timed("levenshtein pairs, block cap=64") {
      val titles = big.select(col("doc_id"), substring(col("text"), 1, 40).as("t"))
      Dedup.editDistancePairs(titles, "doc_id", "t", maxDist = 8,
        blockOn = t => Seq(split(t, " ").getItem(0),
          floor(length(t) / lit(8)).cast("long")),
        maxBlock = 64).count()
    }
    println(s"[stress] levenshtein pairs capped=$nLev")
    val (nJw, _) = timed("jaro-winkler pairs, block cap=64") {
      val titles = big.select(col("doc_id"), substring(col("text"), 1, 30).as("t"))
      Dedup.jaroWinklerPairs(titles, "doc_id", "t", threshold = 0.9,
        blockOn = t => Seq(split(t, " ").getItem(0)),
        maxBlock = 64).count()
    }
    println(s"[stress] jaro-winkler pairs capped=$nJw")

    // Incremental dedup: last replica block = the daily batch (10% of the
    // corpus), first nine = the accumulated history it probes.
    val (incr, _) = timed("incremental dedup, 10% batch vs 9x history") {
      val hist = big.filter(col("doc_id") < 9000000000L)
      val batch = big.filter(col("doc_id") >= 9000000000L)
      Dedup.incrementalMinhashDedup(hist, batch, "doc_id", "text", 3, 0.5,
          maxBucket = 64)
        .agg(sum(when(col("dup_of_history"), 1L).otherwise(0L)),
          sum(when(col("kept"), 1L).otherwise(0L))).head
    }
    println(s"[stress] batch dup_of_history=${incr.getLong(0)} kept=${incr.getLong(1)}")

    // ---- streaming dedup: default state store vs RocksDB ----------------
    // Both sides drain at Streams.StatePartitions state stores.
    def dedupRun(): Long =
      Streams.drain(spark, OutputMode.Complete) { s =>
        Streams.eventStream(s, sfDir)
          .withWatermark("ts", "1 hour")
          .dropDuplicatesWithinWatermark("event_id")
          .agg(count(lit(1)).as("n"))
      }.head.getLong(0)
    val (nHdfs, tHdfs) = timed("streaming dedup by event_id, default store")(dedupRun())
    val (nRocks, tRocks) = timed("streaming dedup by event_id, RocksDB store") {
      Streams.withRocksDBStateStore(spark)(dedupRun())
    }
    require(nHdfs == nRocks, s"state-store mismatch: $nHdfs vs $nRocks")
    println(f"[stress] rocksdb/default wall ratio: ${tRocks / tHdfs}%.2f")

    // ---- round-4 session ops at 10x -------------------------------------
    // 10x events: every event replicated with 9 id/user-offset clones —
    // 10x users at the same per-user history depth (the window/funnel ops
    // scale with keys, not rows-per-key, so wall time should stay linear).
    val events = Catalog.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val bigEv = (0 until 10)
      .map(k => events.select(
        (col("event_id") + lit(k.toLong * 1000000000L)).as("event_id"), col("ts"),
        (col("user_id") + lit(k.toLong * 1000000L)).as("user_id"),
        col("event_type"), col("value")))
      .reduce(_ unionByName _)
      .persist(MEMORY_AND_DISK)
    println(s"[stress] event rows: ${bigEv.count()} (10x $sfDir events)")

    val (nAnom, _) = timed("rolling z-score anomalies over 10x events") {
      graft.ops.Pipeline.rollingAnomaly(bigEv, "user_id", "ts", "event_id",
        "value", lookback = 20, minPrev = 10, zSq = 9)
        .filter(col("is_anomaly")).count()
    }
    println(s"[stress] anomalies: $nAnom")

    val (funnelRows, _) = timed("funnel conversion over 10x events") {
      graft.ops.Pipeline.funnel(bigEv, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase")).count()
    }
    println(s"[stress] funnel users: $funnelRows")

    val (lpaRows, _) = timed("label propagation, 3 rounds, 10x corpus") {
      Dedup.labelPropagation(big.select("doc_id"), edges, "doc_id",
        big.filter(col("doc_id") % 10 === 0)
          .select(col("doc_id"), (col("doc_id") % 3).as("lab")),
        "lab", rounds = 3).count()
    }
    println(s"[stress] lpa nodes: $lpaRows")

    val (nRef, _) = timed("corpus refinery over the 10x corpus") {
      val comp = Dedup.connectedComponents(big.select("doc_id"), edges, "doc_id")
      val quality = big.select(col("doc_id"),
        expr("CAST(size(array_distinct(split(text, ' '))) AS DOUBLE)" +
          " / size(split(text, ' '))").as("q"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("component").orderBy(col("q").desc, col("doc_id").asc)
      comp.join(quality, "doc_id")
        .withColumn("rk", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rk") === 1).count()
    }
    println(s"[stress] refinery keepers: $nRef")

    val (nIvf, _) = timed("persisted IVF build + pruned probe, embeddings") {
      val tmp = graft.engine.TempDirs.create("graft_sivf")
      val vecs = Catalog.load(spark, sfDir, "embeddings")
      graft.ops.Similarity.writeIvfIndex(vecs, "vec_id", "embedding", "label", tmp)
      graft.ops.Similarity.knnIvfPersisted(spark, tmp,
        vecs.filter(col("vec_id") % 100 === 0),
        "vec_id", "embedding", "label", nprobe = 2, k = 10).count()
    }
    println(s"[stress] persisted-ivf results: $nIvf")

    val (p50, _) = timed("distributed exact percentiles, 10x lineitem") {
      val li = Catalog.load(spark, sfDir, "lineitem")
        .select(expr("CAST(ROUND(l_extendedprice * 100) AS BIGINT)").as("cents"))
      val bigLi = (0 until 10).map(_ => li).reduce(_ unionByName _)
      graft.ops.Quantiles.exactPercentiles(bigLi, "cents", Seq(0.25, 0.5, 0.9))
        .head.getDouble(1)
    }
    println(s"[stress] p50 cents: $p50")

    spark.stop()
  }
}
