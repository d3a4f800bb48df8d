package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.expressions.ZOrderValue

/** Physical-layout writers beyond hash bucketing ([[Bucketing]]): Z-order
  * clustering, the layout EPOCH stamp/guard pair the materializing serves
  * use against stale frames, and the ONE segment layer of the three index
  * families (BM25 impact, dense IVF/IVF-PQ, token-IVF MaxSim):
  * [[writeCells]] writes a base, segment or compacted table,
  * [[writeTombstones]] records deletes without rewriting any segment (the
  * Lucene `.liv` analog), and [[live]] reads base ∪ segments − tombstones,
  * so compaction is `writeCells` over `live`. */
object Layout {

  /** The one writer of a cell-partitioned index table: an explicit-count
    * repartition on `cell` (AQE coalesces a bare `repartition(col)` of a
    * low-cardinality key), a sort on `cell +: sortBy`, zstd, `partitionBy`.
    * Each cell lands in one task, so each cell directory holds ONE file;
    * written straight from the input tasks, tasks × cells small files made
    * cell reads dominate the MaxSim serve at 100× data. `maxCells` caps the
    * task count when the cell domain is smaller than the shuffle width. */
  def writeCells(df: DataFrame, cell: String, path: String,
      sortBy: Seq[Column] = Nil, maxCells: Int = Int.MaxValue): Unit = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartition(math.min(n, maxCells), col(cell))
      .sortWithinPartitions(col(cell) +: sortBy: _*)
      .write.mode("overwrite").option("compression", "zstd")
      .partitionBy(cell).parquet(path)
  }

  /** Persist a delete set against the index at `index`: its ids, as longs,
    * in `<index>/tombstones` — an O(|deletes|) write. */
  def writeTombstones(ids: DataFrame, idCol: String, index: String): Unit =
    ids.select(col(idCol).cast("long").as(idCol)).write.mode("overwrite")
      .option("compression", "zstd").parquet(s"$index/tombstones")

  /** The tombstones of the index at `index`, read with their pinned schema. */
  def tombstones(spark: SparkSession, index: String, idCol: String): DataFrame =
    spark.read.schema(StructType(Seq(StructField(idCol, LongType))))
      .parquet(s"$index/tombstones")

  /** `df` without the rows whose `idCol` is in `tomb`. */
  def dropTombstoned(df: DataFrame, tomb: DataFrame, idCol: String): DataFrame =
    df.join(tomb, Seq(idCol), "left_anti")

  /** The LIVE rows of a segmented index: the `tables` (base and segments,
    * each its own partitioned directory) unioned by name, minus the
    * tombstones of the index at `tombstonesOf`. A given `schema` pins the
    * tables' schema, so no schema-inference job runs. Filters on the result
    * push through the anti-join and the union into every table scan. */
  def live(spark: SparkSession, tables: Seq[String], idCol: String,
      tombstonesOf: Option[String], schema: Option[StructType] = None): DataFrame = {
    val all = tables
      .map(t => schema.fold(spark.read)(spark.read.schema).parquet(t))
      .reduce(_.unionByName(_))
    tombstonesOf.fold(all)(ix =>
      dropTombstoned(all, tombstones(spark, ix, idCol), idCol))
  }

  /** Stamp a layout with a fresh epoch (a random UUID written as a one-row
    * parquet beside the data). Index writers call this LAST, so an epoch is
    * only present once the layout is complete; [[epochGuard]] is the read
    * side. Returns the epoch. */
  def stampEpoch(spark: SparkSession, layoutPath: String): String = {
    val epoch = java.util.UUID.randomUUID.toString
    import spark.implicits._
    Seq(epoch).toDF("epoch").coalesce(1)
      .write.mode("overwrite").parquet(s"$layoutPath/layout_epoch")
    epoch
  }

  /** Execution-time staleness guard for MATERIALIZING serves (round 18,
    * the r17 "frozen workload" footgun): a serve frame collects its probe/
    * candidate selection at CONSTRUCTION, so a frame built once and reused
    * across an index update would silently serve the stale selection.
    * This captures the layout's epoch NOW and returns a one-row frame that
    * RE-READS the epoch at every execution and `assert_true`s equality —
    * a stale frame fails loud instead of answering from a dead layout.
    * None when the layout carries no epoch (hand-built fixtures) — guard
    * becomes a no-op, not a requirement. Attach via [[withEpochGuard]]. */
  def epochGuard(spark: SparkSession, layoutPath: String): Option[DataFrame] = {
    val p = s"$layoutPath/layout_epoch"
    if (!new java.io.File(p).exists()) None
    else {
      val expected = spark.read.parquet(p).head().getString(0)
      Some(spark.read.parquet(p).select(
        assert_true(col("epoch") === lit(expected),
          concat(lit(s"stale serve frame: layout $layoutPath was " +
            s"rewritten after materialization (expected epoch $expected, " +
            "found "), col("epoch"), lit(")"))).as("_epoch_ok")))
    }
  }

  /** Attach epoch guards to a (small, broadcast-bound) serve-frame side:
    * one-row cross joins whose filter REFERENCES the assert column, so the
    * optimizer can neither prune the assertion nor the join. Cost is one
    * one-row file scan per guarded layout per execution. */
  def withEpochGuard(df: DataFrame, guards: Seq[DataFrame]): DataFrame =
    guards.foldLeft(df)((d, g) =>
      d.crossJoin(g).filter(col("_epoch_ok").isNull).drop("_epoch_ok"))

  /** Write `df` as Parquet clustered on the Z-order (Morton) value of two
    * int dimensions: range-partition by the z-value (file = contiguous curve
    * segment), sort within partitions, drop the helper column. Every output
    * file then covers a bounded range of BOTH dimensions, so engine-native
    * min/max statistics (file and row-group level) prune 2-D box predicates
    * on read — no index structure, just ordering. `numFiles` should target
    * the cluster's preferred file size (hundreds of MB); small here only
    * because the test corpus is.
    *
    * Dimensions are first quantized to equal-width 16-bit codes over their
    * actual [min, max] — raw-bit interleaving clusters only dimensions of
    * similar bit width (a 4-bit domain drowns under a 20-bit one: the top
    * interleaved bits would all come from the wide column and the curve
    * degenerates to a single-column sort). The min/max pass is one cheap
    * column-stats aggregate. */
  def writeZOrdered(
      df: DataFrame, path: String, x: Column, y: Column, numFiles: Int): Unit = {
    val b = df.agg(
      min(x).cast("long"), max(x).cast("long"),
      min(y).cast("long"), max(y).cast("long")).head
    def code(c: Column, lo: Long, hi: Long): Column = {
      val span = math.max(hi - lo, 1L)
      // 16-bit rank within [lo, hi]; 65535L * offset fits in long for any
      // int-typed dimension
      ((c.cast("long") - lo) * 65535L / span).cast("int")
    }
    val z = ZOrderValue.zorder(
      code(x, b.getLong(0), b.getLong(1)),
      code(y, b.getLong(2), b.getLong(3)))
    df.withColumn("_z", z)
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(path)
  }
}
