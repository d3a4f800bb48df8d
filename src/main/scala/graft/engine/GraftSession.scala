package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * The reference (rimarin/dbt-lab, "minidbs") boots a single-node instance from
  * `config.xml`/`catalogue.xml` (`minidbs-core/src/de/tuberlin/dima/minidb/DBInstance.java:268`);
  * here the analogous bootstrap is a tuned `SparkSession`:
  *
  *   - AQE on: runtime re-planning replaces the reference's static cost model
  *     (`optimizer/cost/CostEstimator.java:49-181`) — partition coalescing and
  *     skew-join handling matter at 100 TB.
  *   - CBO + join reorder on. No base table carries statistics ([[Catalog]]
  *     computes none), so `CostBasedJoinReorder`, the analog of the
  *     reference's DP join-order optimizer
  *     (`optimizer/joins/JoinOrderOptimizer.java:24`), does not reorder the
  *     conformance rows. The confs still act through cached relations, whose
  *     row counts feed the CBO's estimates: `sample_cluster_quota` and
  *     `train_preference_pairs` broadcast the cached k-means assignment with
  *     them and the documents scan without them.
  *   - shuffle.partitions sized to the local core count, not the 200 default;
  *     on a real cluster this would be set to ~2-3x total executor cores (or
  *     left to AQE's coalescing with a high initial value).
  *   - A codegen class cache that holds the engine's working set, so a warm
  *     query compiles no generated class. Every whole-stage codegen stage and
  *     generated projection is a Janino compile, and Spark keeps the compiled
  *     classes in ONE JVM-wide LRU. `CodeGenerator`'s static initializer
  *     reads its size (`spark.sql.codegen.cache.maxEntries`, a static conf)
  *     once per JVM, so the first session that triggers codegen fixes it,
  *     and Spark ignores the setting on a session built over a running
  *     SparkContext. At Spark's default of 100, a warm session kept
  *     evicting classes and compiling them again: graftbench's relational
  *     pool recompiled about 87 of its 140 classes every round. Distinct
  *     classes measured: the nine relational pool rows 140; a whole
  *     relational benchmark run at sf0.01 155; one ingest batch about 110;
  *     a ten-batch ingest run with its checks 816, most of them BM25 serve
  *     classes that never recur; one full [[graft.Verify]] pass at sf0.01
  *     3 773. 2000 holds every benchmark run's working set with more than
  *     twice the largest. A Verify pass is larger, but its rows share few
  *     classes: at 2000 it compiles 3 960 classes (6 678 at 100). A caller
  *     whose working set exceeds the cache gets the LRU's behaviour.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS` when set (the deployment setting), else every
    * core the JVM sees. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  def builder(appName: String = "graft", cpus: String = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Dimension/doc-set tables up to 64 MB broadcast instead of shuffling
      // big probe sides (10 MB default is conservative for modern executors).
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // AQE's RUNTIME broadcast conversions judge by COMPRESSED shuffle
      // bytes, which undercount the deserialized hash relation ~5-10×; at
      // the 100× replica a "60 MB" stage is a multi-hundred-MB build, and
      // two materializing concurrently OOM'd the driver ("Not enough
      // memory to build and broadcast", seen on plain q21). Static
      // planning keeps 64m (file-size estimates are honest); adaptive
      // conversions get a deliberately conservative cap.
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "8m")
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      // The bounded top-k cuts (TopKAggregate) run as ObjectHashAggregate;
      // its default sort-based fallback threshold (128 distinct groups per
      // task) is sized for UNBOUNDED object buffers (collect_list-class),
      // and every serve with >128 queries per task tripped it — the partial
      // aggregate then SORTS the full candidate stream map-side, the exact
      // cost the bounded cut exists to avoid (measured r17, ann_ivf-family
      // bench subset: 14.59 s with window cuts → 13.92 s aggregate cuts on
      // the sort fallback → 12.88 s on the hash path; the biggest
      // candidate stream, ann_ivf_kmeans_persisted, went 0.63 → 0.83 →
      // 0.70 s). TopKAggregate buffers cap at k entries
      // (~16·k bytes), so 4096 groups ≈ 2 MB/task worst case — memory-safe
      // at any scale; the value is buffer-size-derived, not box-tuned.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      // Report the per-bucket sortBy order from bucketed scans so merge
      // joins over them skip their Sort. Off by default (SPARK-28595)
      // because a bucket spanning files would need a slow sort-merge read;
      // [[graft.ops.Bucketing.writeBucketed]] guarantees ONE file per
      // bucket, which is exactly the case the flag exists for.
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The codegen class cache, sized from measurement (see above).
      .config("spark.sql.codegen.cache.maxEntries", "2000")

  /** Shared session for tests / ad-hoc runs. */
  def local(appName: String = "graft"): SparkSession = {
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
