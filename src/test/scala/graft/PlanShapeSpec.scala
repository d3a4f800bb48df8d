package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.engine.Catalog

/** Plan-shape guards: the properties that make these pipelines survive a
  * 100 TB scale-up are visible in the physical plan — filters reaching the
  * parquet reader, column pruning, dimension broadcasts, map-side partial
  * aggregation. Pin them so a refactor can't silently regress the plan. */
class PlanShapeSpec extends SparkSpec with SlowSuite {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("s1 scan pushes filters and prunes columns at the parquet reader") {
    val p = plan(SparkEntry.queries("s1_scan_filter_project")(spark, dir))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("LessThanOrEqual(l_quantity,25.0)") ||
      p.contains("IsNotNull(l_quantity)"), p)
    // only the 5 referenced columns are read, not all 16
    val readSchema = p.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(!readSchema.contains("l_shipdate") && !readSchema.contains("l_comment"), readSchema)
  }

  test("j3 multiway join broadcasts the dimension chain — no sort-merge join") {
    val p = plan(SparkEntry.queries("j3_multiway_join")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("j2b multi-key merge join plans as SortMergeJoin on both keys") {
    val p = plan(SparkEntry.queries("j2b_merge_join_multikey")(spark, dir))
    assert(p.contains("SortMergeJoin"), p)
    // the key-array contract: BOTH keys participate in the merge condition
    assert(p.contains("Left keys [2]"), p)
  }

  test("q2 min-cost-supplier broadcasts all dimensions; min is one window pass") {
    val p = plan(SparkEntry.queries("tpch_q2_min_cost_supplier")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("Window"), p) // correlated min as partition-min window
  }

  test("decontaminate broadcasts the benchmark shingle dictionary") {
    val p = plan(SparkEntry.queries("text_decontaminate")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus side must never shuffle into a sort-merge join
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bm25 joins the global stats row by broadcast, not cartesian shuffle") {
    val p = plan(SparkEntry.queries("text_bm25_topk")(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // order-by + limit plans as a partial top-k, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("a3 grouped aggregation is partial (map-side) then final") {
    val p = plan(SparkEntry.queries("a3_partial_agg_q1")(spark, dir))
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), p) // partial_sum/partial_count before the exchange
  }

  test("a1 flagship joins the dimension by broadcast") {
    val p = plan(SparkEntry.queries("a1_groupby_5agg")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("rank-filter window plans with partial (pre-shuffle) group limits") {
    // Catalyst's InferWindowGroupLimit turns `row_number() <= k` into a
    // Partial WindowGroupLimit below the exchange — at most k rows per key
    // per input partition are shuffled. This is why no custom top-k operator
    // is needed for the window formulation; pin it.
    val p = plan(SparkEntry.queries("w1_topk_per_group")(spark, dir))
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("partitioned write is pruned to one partition on read-back") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graft_prune").toString + "/t"
    spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_orderkey", "l_returnflag")
      .write.partitionBy("l_returnflag").parquet(tmp)
    val p = plan(spark.read.parquet(tmp).filter(col("l_returnflag") === "R"))
    assert(p.contains("PartitionFilters: ["), p)
    assert(p.contains("l_returnflag"), p)
    // the data filter moved entirely into partition pruning
    assert(p.linesIterator.find(_.trim.startsWith("PartitionFilters")).get.contains("R"), p)
  }

  test("bucketed co-located join plans with zero shuffle exchange") {
    import graft.engine.Catalog
    import graft.ops.Bucketing
    val tmp = java.nio.file.Files.createTempDirectory("graft_bkt_spec").toString
    Bucketing.writeBucketed(spark, Catalog.load(spark, dir, "orders"),
      "graft_bkt_spec_o", s"$tmp/o", 8, "o_custkey")
    Bucketing.writeBucketed(spark, Catalog.load(spark, dir, "customer"),
      "graft_bkt_spec_c", s"$tmp/c", 8, "c_custkey")
    val j = Bucketing.coLocatedJoin(spark, "graft_bkt_spec_o", "graft_bkt_spec_c",
      "o_custkey", "c_custkey")
    val p = plan(j)
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("ShuffleExchange") && !p.contains("Exchange hashpartitioning"), p)
    assert(p.contains("SelectedBucketsCount"), p)
  }

  test("runtime bloom-filter pruning injects on a selective join") {
    import org.apache.spark.sql.functions._
    import graft.engine.Catalog
    // At 100 TB the probe side of a selective join carries a runtime bloom
    // filter built from the filtered build side, pruning fact rows before
    // the shuffle. Thresholds are sized for real clusters; scale them down
    // to pin the mechanism locally.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val l = Catalog.load(spark, dir, "lineitem")
      val su = Catalog.load(spark, dir, "supplier").filter(col("s_acctbal") > 9000)
      val j = l.join(su, l("l_suppkey") === su("s_suppkey"))
        .select("l_orderkey", "s_name")
      val p = j.queryExecution.optimizedPlan.toString
      assert(p.toLowerCase.contains("bloomfilter"), p)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join shuffles on (key, salt) — hot key split across reducers") {
    val df = SparkEntry.queries("skew_salted_join")(spark, dir)
    val p = plan(df)
    // the salt participates in the join keys, and the hinted path is the
    // shuffled one (broadcast would make salting a no-op)
    assert(p.contains("_bsalt"), p)
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("abs-range rewrite pushes symmetric-distance predicates to the scan") {
    import org.apache.spark.sql.functions._
    import graft.engine.Catalog
    // abs(value) <= 100 is opaque to pushdown; the injected AbsRangeRewrite
    // turns it into a range conjunction the parquet reader can skip on.
    val ev = Catalog.load(spark, dir, "events")
      .filter(abs(col("value")) <= 100.0).select("event_id", "value")
    val p = plan(ev)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(value,-100.0)"), p)
    assert(pushed.contains("LessThanOrEqual(value,100.0)"), p)
    // and the rewrite preserves results (all values are in (0, 1000))
    val n = Catalog.load(spark, dir, "events").count()
    val kept = Catalog.load(spark, dir, "events")
      .filter(abs(col("value") - 500.0) <= 500.0).count()
    assert(kept == n, s"$kept vs $n")
  }

  test("time-range join is an equi-join on (key, bucket) — never a nested-loop") {
    val p = plan(SparkEntry.queries("range_join_events")(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // bucketing makes it a hash-joinable equi condition
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("q6 pushes every predicate into the parquet scan") {
    val p = plan(SparkEntry.queries("tpch_q6_forecast_revenue")(spark, dir))
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("l_shipdate"), p)
    assert(pushed.contains("l_discount"), p)
    assert(pushed.contains("l_quantity"), p)
  }

  test("as-of join is a single window pass — exactly one shuffle on the key") {
    val p = plan(SparkEntry.queries("asof_purchase_click")(spark, dir))
    assert(p.contains("Window"), p)
    // no join operator at all: the union+window formulation avoids the
    // range-join explosion entirely
    assert(!p.contains("Join"), p)
  }

  test("funnel chains its stage windows over ONE exchange on the user key") {
    val p = plan(graft.ops.Pipeline.funnel(
      Catalog.load(spark, dir, "events"), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase")))
    // 3 chained conditional-min windows + final agg reuse one hash
    // partitioning on user_id — a second hash exchange would mean the
    // chain re-shuffles per stage
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning("))
    assert(hashEx == 1, s"hash exchanges = $hashEx\n$p")
    // partition-wide conditional mins need no per-window Sort
    assert(!p.contains("SortMergeJoin") && !p.contains("Join"), p)
  }

  test("quantile binning broadcasts the cut row — the corpus never reshuffles") {
    val p = plan(graft.ops.Pipeline.withQuantileBin(
      Catalog.load(spark, dir, "lineitem"), "l_extendedprice", Seq(0.25, 0.5, 0.75)))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the full-table side carries no hash exchange: only the single-row
    // percentile aggregate shuffles (a SinglePartition exchange)
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning("))
    assert(hashEx == 0, s"hash exchanges = $hashEx\n$p")
  }

  /** The dense-serve pruning pin (round 16, replacing the
    * `contains("dynamicpruning")` form that accepted the degenerate
    * `dynamicpruningexpression(true)` filter — it lied twice: the r14
    * forward layout and the r15 dense-ANN audit, where all five persisted
    * serves read every cell directory while the pin stayed green).
    * Asserts the STATIC probed-cell IN partition filter on the cells scan
    * AND the executed-scan evidence: the workload probes a proper subset
    * of cells, so `numFiles` must be strictly below the layout's file
    * count. `df.collect()`, not `count()` — count spawns a separate
    * QueryExecution and df's own scan metrics would read zero. */
  private def assertStaticCellPruning(df: DataFrame, cellsDir: String,
      partCol: String): String = {
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val cellScans = p.linesIterator
      .filter(l => l.contains("PartitionFilters") && l.contains(s"$partCol#"))
      .toSeq
    assert(cellScans.nonEmpty,
      s"expected the $partCol-partitioned cells scan:\n$p")
    assert(cellScans.forall(l => l.contains(" IN (") || l.contains("INSET")),
      "cells scan without the static probed-cell IN filter:\n" +
        cellScans.mkString("\n"))
    assert(!p.contains("dynamicpruningexpression(true)"),
      "a dynamic filter degenerated to literal true:\n" + p)
    val nf = graft.engine.ScanMetrics.forPath(df, cellsDir)
      .map(_._1).getOrElse(-1L)
    val total = graft.engine.ScanMetrics.parquetFilesUnder(cellsDir)
    assert(nf >= 1 && nf < total,
      s"cells scan read $nf of $total files under $cellsDir — static " +
        "pruning did not prune at runtime")
    p
  }

  test("persisted IVF serve: static probed-cell partition pruning, " +
      "metrics-verified") {
    import org.apache.spark.sql.functions.col
    import graft.ops.Similarity
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpin").toString
    val vecs = Catalog.load(spark, dir, "embeddings")
    Similarity.writeIvfIndex(vecs, "vec_id", "embedding", "label", tmp)
    // ONE probe: nprobe=2 of the 10 label cells — a proper subset, so the
    // files-read assertion is strict (the conformance rows' %100 workload
    // can legitimately probe every cell at toy scale).
    assertStaticCellPruning(
      Similarity.knnIvfPersisted(spark, tmp,
        vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", "label", nprobe = 2, k = 10),
      s"$tmp/cells", "label")
  }

  test("bucketed q18 plans with ZERO hash exchange — layout paid the shuffle") {
    val p = plan(SparkEntry.queries("tpch_q18_bucketed")(spark, dir))
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning("))
    assert(hashEx == 0, s"hash exchanges = $hashEx\n$p")
    // the co-located path must be sort-merge (broadcast would hide it) with
    // the one genuine dimension (customer) broadcast
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("bucketed q21 needs only the final suppkey aggregate's exchange") {
    val p = plan(SparkEntry.queries("tpch_q21_bucketed")(spark, dir))
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning("))
    assert(hashEx == 1, s"hash exchanges = $hashEx\n$p")
    assert(p.contains("SortMergeJoin"), p)
  }

  test("bucketed scans report sortBy order — merge joins skip the scan Sort") {
    // One file per bucket (Bucketing.writeBucketed) + the outputOrdering
    // flag (GraftSession) let every SortMergeJoin stream the bucketed scan
    // directly; the only Sorts left sit over DERIVED inputs (aggregates).
    // Without this, each merge join re-sorts the fact table per join.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SortExec, SparkPlan}
    def scansUnsorted(df: DataFrame): Unit = {
      def bucketedScanBelow(p: SparkPlan): Boolean = p match {
        case f: FileSourceScanExec => f.bucketedScan
        case other if other.children.size == 1 => bucketedScanBelow(other.children.head)
        case _ => false
      }
      val offending = df.queryExecution.executedPlan.collect {
        case s: SortExec if bucketedScanBelow(s.child) => s
      }
      assert(offending.isEmpty,
        s"Sort over bucketed scan:\n${offending.mkString("\n")}")
    }
    scansUnsorted(SparkEntry.queries("tpch_q18_bucketed")(spark, dir))
    scansUnsorted(SparkEntry.queries("tpch_q21_bucketed")(spark, dir))
  }

  test("cluster-quota selection: bounded partial top-k, one K-row exchange") {
    // The diversity-selection row must NOT plan a row_number window on the
    // K-valued cluster id (low-entropy serialization): the quota is a
    // partial/final TopKAggregate whose single hash exchange moves K·quota
    // buffer rows, with the quality side broadcast into the id join.
    val p = plan(SparkEntry.queries("sample_cluster_quota")(spark, dir))
    assert(p.contains("partial_graft_topk"), p)
    assert(!p.contains("row_number"), s"quota must not window on cluster:\n$p")
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning("))
    assert(hashEx == 1, s"hash exchanges = $hashEx\n$p")
  }

  test("user-bucketed events serves run with ZERO hash exchange") {
    // The events family's whole exchange budget is the per-user shuffle;
    // served from the userkey layout each shape takes its user_id
    // distribution from the bucketed scan — no hash Exchange anywhere in
    // the serve plan (the final orderBy is a range exchange, allowed).
    // Three shapes: rolling window, stage-window funnel, wide aggregate.
    def zeroHashEx(name: String): String = {
      val p = plan(SparkEntry.queries(name)(spark, dir))
      val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning("))
      assert(hashEx == 0, s"$name hash exchanges = $hashEx\n$p")
      p
    }
    assert(zeroHashEx("anomaly_rolling_z_bucketed").contains("Window"))
    assert(zeroHashEx("funnel_conversion_bucketed").contains("Window"))
    assert(zeroHashEx("events_user_features_bucketed").contains("HashAggregate"))
  }

  test("persisted trained-quantizer IVF serve: static probed-cell pruning, " +
      "metrics-verified") {
    import org.apache.spark.sql.functions.col
    import graft.ops.{KMeans, Similarity}
    val tmp = java.nio.file.Files.createTempDirectory("graft_kivfpin").toString
    val vecs = Catalog.load(spark, dir, "embeddings")
    val (assigned, cents) = KMeans.lloyd(vecs, "vec_id", "embedding",
      k = 4, iters = 1, dims = 64)
    Similarity.writeKmeansIvfIndex(assigned, cents, "vec_id", "embedding", tmp)
    // one probe → nprobe=2 of the 4 trained cells: strict subset
    assertStaticCellPruning(
      Similarity.knnIvfKmeansPersisted(spark, tmp,
        vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", nprobe = 2, k = 10),
      s"$tmp/cells", "cluster")
  }

  test("persisted IVF-PQ serving prunes cells and reads codes, not vectors") {
    import org.apache.spark.sql.functions.col
    import graft.ops.{KMeans, PQ}
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpqpin").toString
    val vecs = Catalog.load(spark, dir, "embeddings")
    val (assigned, cents) = KMeans.lloyd(vecs, "vec_id", "embedding",
      k = 4, iters = 1, dims = 64)
    val books = PQ.train(vecs, "vec_id", "embedding", m = 4, k = 8,
      iters = 1, dims = 64)
    PQ.writeIvfPqIndex(assigned, cents, books, "vec_id", "embedding", 64, tmp)
    val p = assertStaticCellPruning(
      PQ.knnIvfPqPersisted(spark, tmp,
        vecs.filter(col("vec_id") === 0),
        "vec_id", "embedding", 64, nprobe = 2, kTop = 10),
      s"$tmp/cells", "cluster")
    // the cells scan must project ONLY id + codes — no vector column
    val readSchemas = p.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(readSchemas.exists(l => l.contains("code0") && !l.contains("embedding")),
      s"cells ReadSchema must carry codes only:\n${readSchemas.mkString("\n")}")

    // Append-maintenance serve (base ∪ delta cells through the shared ADC
    // core): the same codes-only contract must hold for BOTH cell scans —
    // the raw-vector columns appear only on the probe side.
    val delta = java.nio.file.Files.createTempDirectory("graft_ivfpqpin_d")
      .toString + "/cells"
    val batch = vecs.filter(col("vec_id") % 10 === 3)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    PQ.writeCells(
      KMeans.assign(batch, "vec_id", "embedding",
        KMeans.collectCents(cents.select(col("cluster"), col("cent")))),
      books, "vec_id", "embedding", 64, delta)
    val cellsAll = spark.read.parquet(s"$tmp/cells")
      .unionByName(spark.read.parquet(delta))
    val dfa = PQ.knnIvfPqCells(cellsAll,
      spark.read.parquet(s"$tmp/cents"), books,
      vecs.filter(col("vec_id") === 0),
      "vec_id", "embedding", 64, nprobe = 2, kTop = 10)
    // The static IN must push through the base ∪ delta Union to BOTH legs
    // (which runtime DPP structurally could not — PartitionPruning does
    // not traverse Union): each scan pruned, both metrics-verified.
    val pa = assertStaticCellPruning(dfa, s"$tmp/cells", "cluster")
    val deltaNf = graft.engine.ScanMetrics.forPath(dfa, delta)
      .map(_._1).getOrElse(-1L)
    val deltaTotal = graft.engine.ScanMetrics.parquetFilesUnder(delta)
    assert(deltaNf >= 0 && deltaNf < deltaTotal,
      s"delta cells scan read $deltaNf of $deltaTotal files — the static " +
        "IN did not push through the union to the delta leg")
    val cellSchemas = pa.linesIterator.filter(_.contains("ReadSchema"))
      .filter(_.contains("code0")).toSeq
    assert(cellSchemas.size >= 2 && cellSchemas.forall(!_.contains("embedding")),
      s"both cell scans must carry codes only:\n${cellSchemas.mkString("\n")}")
  }

  test("scd2 is one exchange + one sort on the entity key") {
    import org.apache.spark.sql.functions.col
    val p = plan(graft.ops.Pipeline.scd2(
      Catalog.load(spark, dir, "events"), "user_id", "ts", "event_id", "event_type"))
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning("))
    assert(hashEx == 1, s"hash exchanges = $hashEx\n$p")
    assert(p.contains("Window"), p)
  }

  test("basket pair mining joins on the order key — never a cartesian") {
    val p = plan(SparkEntry.queries("basket_part_pairs")(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"), p)
  }

  test("user feature-store row is one partial+final aggregate — no pivot") {
    val p = plan(SparkEntry.queries("events_user_features")(spark, dir))
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning("))
    assert(hashEx == 1, s"hash exchanges = $hashEx\n$p")
    assert(p.contains("partial_count") || p.contains("partial"), p)
  }

  test("rolling anomaly is one exchange + one sort on the key") {
    val p = plan(graft.ops.Pipeline.rollingAnomaly(
      Catalog.load(spark, dir, "events"), "user_id", "ts", "event_id", "value",
      lookback = 20, minPrev = 10, zSq = 9))
    val hashEx = p.linesIterator.count(_.contains("Arguments: hashpartitioning("))
    assert(hashEx == 1, s"hash exchanges = $hashEx\n$p")
    assert(p.contains("Window"), p)
  }

  test("LATERAL top-k decorrelates: WindowGroupLimit below one equi-join") {
    // Correctness alone would allow executing the subquery per outer row;
    // the scale contract is full decorrelation — a single join against a
    // ranked slice, with the k=2 cut pushed below the rank's exchange so
    // map tasks keep local top-2 per key before shuffling.
    val df = SparkEntry.queries("sql_lateral_topk")(spark, dir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("WindowGroupLimit"), opt)
    assert(opt.contains("Join Inner"), opt)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("layout names are identities: conflicting re-registration fails fast") {
    // A second caller reusing a layout name with different sort columns
    // previously hit the (session, dir)-keyed cache and silently served
    // the FIRST layout's sort order (ADVICE r7). The spec is pinned per
    // name now; same-spec re-registration is accepted.
    val tables = Seq(("graft_bkt_pin_o", "orders", "o_orderkey"))
    graft.ops.Bucketing.sessionLayout(spark, dir, "pin_layout", tables,
      Map("graft_bkt_pin_o" -> Seq("o_orderkey")))
    // identical spec: accepted
    graft.ops.Bucketing.sessionLayout(spark, dir, "pin_layout", tables,
      Map("graft_bkt_pin_o" -> Seq("o_orderkey")))
    val e = intercept[IllegalArgumentException] {
      graft.ops.Bucketing.sessionLayout(spark, dir, "pin_layout", tables,
        Map("graft_bkt_pin_o" -> Seq("o_custkey")))
    }
    assert(e.getMessage.contains("conflicting"), e.getMessage)
  }

  test("containment serve: co-partitioned pair join, never a postings broadcast") {
    // Round-8 regression fix pinned: AQE's cached-stats estimate once
    // flipped BOTH h-joins to broadcasting the WHOLE postings table — an
    // OOM plan at corpus scale (the build side grows with the corpus).
    // The serve plan must keep the pair self-join on the co-partitioned
    // shuffled-hash path (zero exchanges of its own: the cached postings
    // carry the h distribution), leaving exactly ONE serve shuffle — the
    // (d1, d2) pair-count aggregate's. The ns joins may broadcast: that
    // side goes through the MEASURED gate (Skew.broadcastIfBounded), not
    // an AQE estimate.
    val df = SparkEntry.queries("dedup_containment")(spark, dir)
    df.count() // finalize AQE
    val nodes = graft.engine.PlanNodes.serveNodes(df)
    assert(graft.engine.PlanNodes.count(nodes, "ShuffledHashJoin") == 1,
      nodes.map(_.nodeName).mkString("\n"))
    // one hash exchange (pair-count agg) — the orderBy adds a range one
    assert(graft.engine.PlanNodes.hashExchanges(nodes) == 1,
      nodes.map(_.nodeName).mkString("\n"))
  }

  test("bench fingerprint walk stops at cache boundaries") {
    // The same query string-grepped counts the cached build plans once per
    // scan site; the PlanNodes walk must not. dedup_containment reads its
    // postings cache from three plan branches — a string count of its
    // exchanges lands in the dozens, the serve walk stays in single digits.
    val df = SparkEntry.queries("dedup_containment")(spark, dir)
    df.count()
    val walked = graft.engine.PlanNodes.serveNodes(df)
      .count(_.nodeName.contains("Exchange"))
    val grepped = df.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Exchange"))
    assert(walked < grepped,
      s"walk=$walked grep=$grepped — cache-boundary stop not effective")
    assert(walked <= 6, s"serve exchanges = $walked")
  }

  test("surgical decontamination broadcasts the bench set; no cartesian") {
    // The benchmark shingle dictionary is bounded by the eval SUITE at any
    // corpus scale — it must reach the positional-window probe as a
    // broadcast, and nothing in the span machinery may plan a cartesian.
    val p = plan(SparkEntry.queries("text_decontaminate_surgical")(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("DSIR importance scoring joins the vocab back without a cartesian") {
    // Shape contract: two hash aggregates (vocab-bounded), the one-row
    // totals as a broadcast, the vocab ratio table equi-joined back to the
    // exploded tokens — never a cartesian, never a nested loop.
    val p = plan(SparkEntry.queries("select_dsir_importance")(spark, dir))
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
    // The ONE BroadcastNestedLoopJoin is the designed scalar broadcast of
    // the 1-row totals (ns, nt, v) into the vocab ratio projection — the
    // same shape as every scalar-row cross join in the suite. The vocab
    // table itself must come back as a hash equi-join.
    // (formatted explain prints each node twice: tree line + detail header)
    assert(p.linesIterator.count(
      l => l.contains("- BroadcastNestedLoopJoin")) <= 1, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // top-100, never a global sort
  }

  test("MaxSim retrieval: one probe-bounded broadcast, partial max aggregation") {
    // The |Q_tokens| probe table broadcasts across the corpus token scan
    // (the designed exactness-baseline cross, like ann_bruteforce_topk) —
    // exactly ONE nested-loop join, never a CartesianProduct; the
    // per-(query-token, doc) MAX must split partial/final so the broadcast
    // cross collapses map-side before any shuffle.
    val p = plan(SparkEntry.queries("retrieval_maxsim_topk")(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.count(
      l => l.contains("- BroadcastNestedLoopJoin")) == 1, p)
    assert(p.contains("partial_max") || p.contains("partial max") ||
      p.linesIterator.count(_.contains("HashAggregate")) >= 2, p)
  }

  test("MaxSim IVF serve: candidate join is a cluster equi-join — the full " +
      "probe-token cross never forms") {
    // The scale claim in one plan property: stage 1 joins probed CELLS by
    // hash equi-join on cluster (BroadcastHashJoin). The |Q_tok|·|corpus_tok|
    // BroadcastNestedLoopJoin cross that defines the exact row must NOT
    // appear against the token table — and as of round 15 the kc-row
    // centroid cross of the probe ranking runs as a separate PLANNING job
    // (probes are driver-materialized), so the served plan carries ZERO
    // nested-loop joins.
    val p = plan(SparkEntry.queries("retrieval_maxsim_ivf")(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.linesIterator.count(
      l => l.contains("- BroadcastNestedLoopJoin")) == 0, p)
  }

  test("persisted MaxSim token-IVF serve prunes cell partitions statically " +
      "to the probed clusters") {
    // Stage 1 must read ONLY the probed clusters' directories. Round 15:
    // the probed-cluster set is collected at planning (bounded by the
    // query workload) and lands as a STATIC IN partition filter — pruned
    // at listing time, no subquery to degrade, and no nested dynamic
    // filter left to poison the stage-2 forward DPP.
    val p = plan(SparkEntry.queries("retrieval_maxsim_ivf_persisted")(spark, dir))
    val cellScans = p.linesIterator
      .filter(l => l.contains("PartitionFilters") && l.contains("cluster#"))
      .toSeq
    assert(cellScans.nonEmpty, "expected the cluster-partitioned cells scan:\n" + p)
    assert(cellScans.forall(_.contains(" IN (")),
      "cells scan without the static probed-cluster IN filter:\n" +
        cellScans.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("persisted MaxSim serve never scans the corpus text — stage 2 " +
      "forward-reads the index's own cells (the round-13 100x fix)") {
    // The r12 inversion: stage 2 re-exploded the documents table, so the
    // persisted serve paid the in-session explode + a second full-width
    // shuffle on top of its index scan (380.5 s vs 241.9 in-session at
    // 100x). Pin the fix structurally: every scan of the documents table
    // in this plan must carry the QUERY-side pushdown (doc_id % 250 = 0) —
    // i.e. the corpus text is read for query tokens ONLY; the corpus-sized
    // inputs are both index reads.
    val df = SparkEntry.queries("retrieval_maxsim_ivf_persisted")(spark, dir)
    df.count() // finalize AQE so the executed scans are the real ones
    val p = df.queryExecution.executedPlan.toString
    val docScans = p.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("documents"))
      .toSeq
    assert(docScans.nonEmpty, "expected the query-side documents scan")
    assert(docScans.forall(_.contains("% 250")),
      "corpus-text scan without the query filter — stage 2 is re-exploding " +
        "the text again:\n" + docScans.mkString("\n"))
  }

  /** Root directory of the executed scan whose path contains `tag` — the
    * on-disk denominator for static-pruning assertions (static pruning
    * happens at listing time, so the scan reports no pre-prune total the
    * way a live DPP scan's staticFilesNum does). */
  private def scanRoot(df: DataFrame, tag: String): String =
    graft.engine.ScanMetrics.scans(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
      .find(_.contains(tag)).get.stripPrefix("file:")

  test("bucketed-forward MaxSim serve: stage-2 forward scan is STATICALLY " +
      "partition-pruned on fb, and the corpus text is still query-only") {
    // Round 14 structure, round 17 mechanism: the forward component is
    // partitioned by fb = pmod(doc_id, buckets); the candidate set is
    // workload-bounded (≤ |q_tokens|·T pairs), so it is materialized at
    // planning and each segment's bucket set lands as a STATIC fb IN
    // partition filter — pruned at listing time, stage 1 executed exactly
    // once, no dynamic subquery left to degrade (the exact migration the
    // dense serves made in r16; the per-segment DPP form re-executed
    // stage 1 inside every segment's broadcast). Without the filter the
    // layout is decoration (stage 2 silently reads all buckets, the same
    // linear-scan class as r12's text re-explode).
    val df = SparkEntry.queries("retrieval_maxsim_ivf_fwd")(spark, dir)
    // collect(), not count(): count() runs a SEPARATE QueryExecution, so
    // df's own plan would stay unexecuted and the scan-metric reads below
    // would see zeros.
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val fwdScans = p.linesIterator
      .filter(l => l.contains("PartitionFilters") && l.contains("fb#"))
      .toSeq
    assert(fwdScans.nonEmpty, "expected the fb-partitioned forward scan:\n" + p)
    assert(fwdScans.forall(l => l.contains(" IN (") || l.contains("INSET")),
      "forward scan without the static candidate-bucket IN filter — " +
        "stage 2 reads every bucket:\n" + fwdScans.mkString("\n"))
    assert(!p.contains("dynamicpruningexpression(true)"),
      "a dynamic filter degenerated to literal true:\n" + p)
    // Executed-scan evidence (round 16 discipline): the post-prune
    // numFiles must be a strict subset of the on-disk layout
    // (27/32 buckets at this workload).
    val (nf, _, _, _) = graft.engine.ScanMetrics
      .forPath(df, "graft_msfwd").get
    val total = graft.engine.ScanMetrics
      .parquetFilesUnder(scanRoot(df, "graft_msfwd"))
    assert(nf >= 1 && nf < total,
      s"forward scan read $nf of $total on-disk files — the static fb " +
        "filter did not prune at runtime")
    // Stage 1 (the probed-cells candidate pipeline) no longer appears in
    // the SERVED plan at all — it executes exactly once, at planning,
    // inside the candidate materialization. Its static cluster-IN pruning
    // is the same shared code path the persisted (non-fwd) serve keeps
    // in-plan, pinned by the test above.
    assert(!p.contains("CartesianProduct"), p)
    // and the r13 pin holds here too: every documents scan is query-side
    val docScans = p.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("documents"))
      .toSeq
    assert(docScans.nonEmpty, "expected the query-side documents scan")
    assert(docScans.forall(_.contains("% 250")),
      "corpus-text scan without the query filter:\n" + docScans.mkString("\n"))
  }

  test("lifecycle MaxSim fwd serves: EVERY forward-segment scan (base AND " +
      "delta moduli, and the compacted merge) is statically pruned on fb") {
    // Round 15: the lifecycle serves previously forward-read the cells
    // union — correct but corpus-linear. The bucketed variants fetch from
    // per-segment forward layouts; the union sits ABOVE the candidate
    // joins (each segment's fb modulus differs) — pinned here so a
    // refactor that unions below the join (and silently reverts every
    // segment to a full scan) fails loudly. Round 17: each segment's
    // bucket set is a STATIC fb IN filter rendered from the materialized
    // candidate set (see the base fwd pin above for the full story).
    val expectedScans = Map(
      "retrieval_maxsim_ivf_append_fwd" -> 2, // base + delta segments
      "retrieval_maxsim_ivf_delete_fwd" -> 2,
      "retrieval_maxsim_ivf_lifecycle_compacted_fwd" -> 1) // merged
    for ((name, nScans) <- expectedScans) {
      val df = SparkEntry.queries(name)(spark, dir)
      df.collect() // executes df's OWN plan (count() spawns a separate one)
      val p = df.queryExecution.executedPlan.toString
      val fwdScans = p.linesIterator
        .filter(l => l.contains("PartitionFilters") && l.contains("fb#"))
        .toSeq
      // The EXECUTED plan prints each scan once per AQE stage
      // re-instantiation — count distinct scan LOCATIONS, not lines.
      val fwdLocs = fwdScans.flatMap(
        "Location: [^,]*\\[([^\\]]*)\\]".r.findFirstMatchIn(_).map(_.group(1)))
        .distinct
      assert(fwdLocs.size == nScans,
        s"$name: expected $nScans fb-partitioned forward scans, got " +
          s"${fwdLocs.size}:\n" + fwdScans.mkString("\n"))
      // Static IN form required on every segment scan (the dynamic form
      // this replaces re-executed stage 1 per segment and could silently
      // degrade to dynamicpruningexpression(true) — see the base fwd pin).
      assert(fwdScans.forall(l => l.contains(" IN (") || l.contains("INSET")),
        s"$name: forward scan without the static candidate-bucket IN " +
          "filter — stage 2 reads every bucket:\n" + fwdScans.mkString("\n"))
      assert(!p.contains("dynamicpruningexpression(true)"),
        s"$name: a dynamic filter degenerated to literal true:\n" + p)
      assert(!p.contains("CartesianProduct"), p)
      // Executed-scan evidence per segment. The PRUNED FRACTION is
      // workload geometry, not a structural property: the bigvocab
      // lifecycle candidates touch all 32 base buckets at sf0.001
      // (measured), while the base fwd row prunes 27/32 — so strictness
      // is pinned only where it is known (the base fwd test above); here
      // the contract is that the executed scan reads no more than the
      // layout holds and the static filter is in the plan.
      val segTags = Map(
        "retrieval_maxsim_ivf_append_fwd" ->
          Seq("graft_msfwd_big", "graft_msfwd_delta"),
        "retrieval_maxsim_ivf_delete_fwd" ->
          Seq("graft_msfwd_big", "graft_msfwd_delta"),
        "retrieval_maxsim_ivf_lifecycle_compacted_fwd" ->
          Seq("graft_msfwd_compact"))
      for (tag <- segTags(name)) {
        val (nf, _, _, _) = graft.engine.ScanMetrics.forPath(df, tag).get
        val total = graft.engine.ScanMetrics
          .parquetFilesUnder(scanRoot(df, tag))
        assert(nf >= 0 && nf <= total,
          s"$name/$tag: read $nf of $total on-disk files")
      }
    }
  }

  test("hybrid-served retrieval touches only indexes: bucket-pruned postings, " +
      "cell-pruned IVF, no cartesian") {
    val p = plan(SparkEntry.queries("retrieval_hybrid_served")(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    // lexical side: the impact index's bucket partition pruning
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("bkt")), p)
    // vector side: the kmeans IVF cells scan carries the STATIC
    // probed-cluster IN partition filter (round 16 — probe selection runs
    // at planning; the old runtime-DPP assertion accepted the degenerate
    // dynamicpruningexpression(true) form, which the r15 audit measured
    // reading every cell directory)
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("cluster#") &&
        (l.contains(" IN (") || l.contains("INSET"))), p)
    assert(!p.contains("dynamicpruningexpression(true)"), p)
  }

  test("BM25 impact serve: bkt-pruned scans, impact bound pushed, no cartesian") {
    // The whole point of the impact index: serving never reads a bucket
    // outside the query terms' (static partition pruning on bkt), and the
    // term filter and the θ/m impact bound reach the parquet reader, so
    // row groups below the bound never leave disk. θ comes from phase 1,
    // the eager prefix collect made while the DataFrame is built: its plan
    // reads only the irank <= k prefixes and runs no shuffle.
    val collects = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "collect") collects.synchronized {
          collects += qe.explainString(ExplainMode.fromString("formatted"))
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    // The first construction builds the session's index; the second,
    // under the listener, makes only the serve's own phase-1 collect.
    SparkEntry.queries("text_bm25_impact_topk")(spark, dir)
    spark.listenerManager.register(listener)
    val p =
      try {
        val p = plan(SparkEntry.queries("text_bm25_impact_topk")(spark, dir))
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (collects.synchronized(collects.isEmpty) && System.nanoTime() < deadline)
          Thread.sleep(50)
        p
      } finally spark.listenerManager.unregister(listener)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoopJoin"), p)
    val scans = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("bkt")), p)
    assert(p.linesIterator.exists(l => l.contains("PushedFilters") &&
      l.contains("In(term, [") && l.contains("GreaterThanOrEqual(impact,")), p)
    val phase1 = collects.synchronized(collects.toSeq)
    assert(phase1.nonEmpty, "phase-1 collect never observed")
    phase1.foreach { q =>
      assert(q.linesIterator.exists(l => l.contains("PushedFilters") &&
        l.contains("LessThanOrEqual(irank,20)") && l.contains("In(term, [")), q)
      assert(q.linesIterator.exists(l =>
        l.contains("PartitionFilters") && l.contains("bkt")), q)
      assert(!q.contains("Exchange"), q)
    }
  }

  test("BATCHED BM25 impact serve: bucket-pruned scans, workload joins " +
      "broadcast, no cartesian, no per-query driver loop") {
    // The workload-axis claim as plan properties: the query TABLE reaches
    // the postings via broadcast hash joins (|Q|-row side), every postings
    // scan is bucket partition-pruned with the term filter pushed, and
    // nothing in the plan is a cartesian or a literal-per-query expansion.
    val p = plan(SparkEntry.queries("text_bm25_impact_batch")(spark, dir))
    assert(!p.contains("CartesianProduct"), p)
    val scans = p.linesIterator.filter(_.contains("PartitionFilters")).toSeq
    assert(scans.nonEmpty && scans.forall(_.contains("bkt")), p)
    assert(p.linesIterator.exists(l =>
      l.contains("PushedFilters") && l.contains("In(term, [")), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }
}
