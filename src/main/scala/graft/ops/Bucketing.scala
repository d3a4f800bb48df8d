package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed (hash-clustered) table layouts — the on-disk co-location strategy
  * for joins that repeat on the same key.
  *
  * The reference co-locates nothing: its only physical layout is row pages in
  * insertion order plus secondary B-trees (`io/tables/TablePage.java`,
  * `io/index/BTreeIndex.java:24-125`), and every join repeatedly re-walks an
  * index (`PhysicalPlanGeneratorUtils.createIndexNestedLoopJoinInner`,
  * `optimizer/generator/util/PhysicalPlanGeneratorUtils.java:432`). The
  * Spark-native analog of "build a persistent access structure so future
  * queries skip work" is bucketing: hash-partition the FILES by the join key
  * at write time so every later join/aggregation on that key runs with zero
  * Exchange — the shuffle is paid once, at layout time, not per query.
  *
  * At 100 TB this is the difference between re-shuffling the fact table for
  * every query in a workload and never shuffling it again: a 1000-executor
  * cluster joining two tables bucketed into the same key/count reads bucket i
  * of both on the same task. Bucket count should be chosen so one bucket of
  * the big table ≈ one task's worth (hundreds of MB) — thousands of buckets
  * at 100 TB; small here only because the test data is small.
  */
object Bucketing {

  /** A layout NAME is an identity: the first registration pins its spec
    * (tables + sort columns), and a later call reusing the name with a
    * different spec fails fast instead of silently serving the first
    * layout's bucketing/sort order from the cache. */
  private val layoutSpecs = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(String, String, String)], Map[String, Seq[String]])]()

  /** Layout names registered this session — the plan gate cross-checks
    * every `Q.servesLayout` declaration against this set, so a misspelled
    * or stale declaration fails loudly instead of silently un-gating the
    * row. */
  def registeredLayouts: Set[String] = {
    import scala.jdk.CollectionConverters._
    layoutSpecs.keySet().asScala.toSet
  }

  /** Session-scoped bucketed layout: build the named bucketed tables and
    * let every later query serve from the catalog with zero Exchange. This
    * is THE entry point for layout builds — both house rules live here, not
    * at call sites:
    *
    *  - **bucket count = the session's default parallelism.** With fewer
    *    buckets than cores every exchange-free join runs under-parallelized;
    *    measured on the 100× replica, 8 buckets left bucketed q21 no faster
    *    than the plain shape. At 100 TB the same rule says thousands of
    *    buckets (one task's worth of fact table each).
    *  - **one file per bucket** (via [[writeBucketed]]'s pre-write
    *    repartition), which is what lets the scan report its per-bucket sort
    *    order so downstream SortMergeJoins skip their Sort.
    *
    * `tables` lists (catalogTable, sourceTable, bucketKey); files land under
    * a fresh temp dir. Each call writes: a layout is declared as one
    * [[SharedBuilds]] build, which bench pipelines build eagerly for honest
    * attribution and query bodies call again as a lookup (so standalone
    * Verify/subset runs still work). */
  def sessionLayout(
      spark: SparkSession, dir: String, layout: String,
      tables: Seq[(String, String, String)],
      sortCols: Map[String, Seq[String]] = Map.empty): Unit = {
    val spec = (tables, sortCols)
    val prior = layoutSpecs.putIfAbsent(layout, spec)
    require(prior == null || prior == spec,
      s"layout '$layout' re-registered with a conflicting spec: " +
        s"first=$prior now=$spec — use a distinct layout name")
    val tmp = graft.engine.TempDirs.create(s"graft_$layout")
    val n = spark.sparkContext.defaultParallelism
    tables.foreach { case (table, source, key) =>
      writeBucketed(spark, graft.engine.Catalog.load(spark, dir, source),
        table, s"$tmp/$source", n, key,
        sortCols.getOrElse(table, Nil))
    }
  }

  /** Write `df` as a bucketed, per-bucket-sorted external table, replacing any
    * previous incarnation. Files land under `path`; metadata (bucket spec) in
    * the session catalog — readers get the hash-distribution guarantee from
    * the catalog, which is what lets the planner drop the Exchange.
    *
    * The pre-write `repartition(numBuckets, bucketCol)` uses the same
    * murmur3 pmod as the bucket-id assignment, so each write task owns
    * exactly one bucket → ONE file per bucket. That single-file invariant is
    * what lets the scan ALSO report the per-bucket sort order (Spark drops
    * the sort metadata when a bucket spans files, since concatenated sorted
    * files aren't sorted) — downstream SortMergeJoins then skip their Sort
    * entirely instead of re-sorting the fact table per join.
    *
    * zstd, not snappy: a layout table is written once and served many
    * times, so the write-side CPU for the denser codec amortizes to zero
    * while every serve pays less cold-read I/O (the dominant variance
    * source measured on the 100× replica, where the fact table no longer
    * fits page cache). */
  def writeBucketed(
      spark: SparkSession,
      df: DataFrame,
      table: String,
      path: String,
      numBuckets: Int,
      bucketCol: String,
      extraSortCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // extraSortCols extends the per-bucket sort beyond the bucket key — a
    // layout serving per-key WINDOW workloads (events bucketed by user,
    // sorted by time within user) stores rows pre-ordered for the window
    // frame, so serving pays neither the key Exchange (bucketing) nor a
    // disk-order shuffle sort.
    val sortTail = extraSortCols.filterNot(_ == bucketCol)
    df.repartition(numBuckets, col(bucketCol))
      .write
      .mode("overwrite")
      .option("path", path)
      .option("compression", "zstd")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol, sortTail: _*)
      .saveAsTable(table)
  }

  /** Equi-join two tables bucketed on their join keys with equal bucket
    * counts. The merge hint forces the sort-merge path (a broadcast would
    * hide the co-location); with both sides bucket-distributed the planner
    * emits SortMergeJoin with NO ShuffleExchange on either side — pinned by
    * PlanShapeSpec. */
  def coLocatedJoin(
      spark: SparkSession,
      leftTable: String,
      rightTable: String,
      leftKey: String,
      rightKey: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.hint("merge").join(r, l(leftKey) === r(rightKey))
  }
}
