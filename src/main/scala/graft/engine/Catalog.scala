package graft.engine

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Catalog loader — the Spark-native replacement for the reference's
  * `catalogue.xml` + `Catalogue.loadCatalogue`
  * (`minidbs-core/src/de/tuberlin/dima/minidb/DBInstance.java:268`,
  * `catalogue/TableSchema.java:20-143`).
  *
  * Tables are Parquet files under a scale-factor directory; schemas come from
  * Parquet footers (no separate schema file needed). This object is the one
  * place that knows a base table's schema: [[schema]] resolves it once per
  * (application, table path) and every reader of a base table — batch
  * [[load]], `Streams.tableStream`, ScaleSweep's replica read — reads under
  * it, so no read runs a Spark job to learn the schema again. No table
  * carries statistics (see [[GraftSession]] on the CBO).
  */
object Catalog {
  /** All driver-provided tables (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The small dimension tables — always broadcast-join candidates. */
  val smallDims: Set[String] = Set("region", "nation", "supplier")

  /** (application, table path) → the table's file listing (path, size,
    * mtime) and the schema resolved from exactly those files. */
  private val resolved =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[(String, Long, Long)], StructType)]()

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** The table's schema as stored, resolved from its Parquet footers once
    * per (application, table path) and again only when the table's file
    * listing changes: Spark's reader NULL-fills a column missing from a file
    * without an error, so a rewritten table must never read under a stale
    * schema. A repeat call lists the files and runs no Spark job. No lock is
    * held across a resolution; two racing callers both resolve the same
    * schema. */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType = {
    val p = path(sfDir, name)
    val root = new Path(p)
    val it = root.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(root, true)
    val listing = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSeq.sorted
    val key = spark.sparkContext.applicationId + "#" + p
    Option(resolved.get(key)).filter(_._1 == listing).map(_._2).getOrElse {
      val s = resolve(spark, p, name)
      resolved.put(key, (listing, s))
      s
    }
  }

  /** Spark's footer inference (one job), plus the `events.ts` contract
    * check. A LongType `ts` is only correct as TIMESTAMP(NANOS) read under
    * `spark.sql.legacy.parquet.nanosAsLong=true` (see [[GraftSession]]); a
    * plain-int64 micros/millis column would be misscaled by
    * [[normalizeEventTs]]. So one sampled value must sit in the nanosecond
    * range for plausible event dates (≥ 2000-01-01 in nanos ≈ 9.5e17;
    * micros for any date < 2286 stay < 1e16), or the resolution fails
    * loudly. `head(1)` reads a single row group of the batch files. */
  private def resolve(spark: SparkSession, p: String, name: String): StructType = {
    val df = spark.read.parquet(p)
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.select("ts").head(1).foreach { r =>
        val v = math.abs(r.getLong(0))
        require(v == 0L || v >= (1L << 59), // ~5.7e17: nanos for dates >= 1988
          s"events.ts is INT64 but |$v| is below the nanosecond range; " +
            "normalizeEventTs only handles TIMESTAMP(NANOS) read under " +
            "spark.sql.legacy.parquet.nanosAsLong=true — a plain micros/" +
            "millis int64 column needs an explicit conversion")
      }
    df.schema
  }

  /** Columnar scan under the resolved schema; Catalyst pushes projection +
    * filters into the Parquet reader (the analog of the reference's page
    * column bitmap + in-page predicates,
    * `io/tables/TablePage.java:24-43,199-219`). */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.schema(schema(spark, sfDir, name)).parquet(path(sfDir, name))
    if (name == "events") normalizeEventTs(df) else df
  }

  /** Normalize `events.ts` to a session-TZ TimestampType column, whatever
    * the driver wrote to Parquet this round. A column rewrite only, so it
    * applies to a batch or a streaming frame alike:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; sessions set
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (see [[GraftSession]]) so
    *    it arrives as LongType nanoseconds → truncate to µs. Queries compare
    *    at ≥second granularity, so the truncation is lossless. [[schema]]
    *    has already checked that the values are nanoseconds.
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark ≥3.4 infers
    *    TIMESTAMP_NTZ → cast to TimestampType. The cast reinterprets the
    *    wall-clock fields in the SESSION time zone, so it maps to the same
    *    micros-since-epoch instant DuckDB's naive TIMESTAMP oracle sees only
    *    when the session runs in UTC — asserted here so a future non-UTC
    *    caller fails loudly instead of silently shifting every instant. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        val tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
        require(tz == "UTC",
          s"normalizeEventTs requires spark.sql.session.timeZone=UTC (got " +
            s"'$tz'): the NTZ->TimestampType cast reinterprets wall-clock " +
            "fields in the session zone and would shift instants otherwise")
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  /** Register every table as a temp view, enabling the SQL front
    * (the reference's dialect is a strict subset of Spark SQL). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach { t =>
      load(spark, sfDir, t).createOrReplaceTempView(t)
    }
}
