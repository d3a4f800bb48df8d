package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType, TimestampType}

import graft.engine.{Catalog, TempDirs}
import graft.ops.Relational.{charEq, charPad}
import graft.streaming.Streams

/** One schema resolution per base table: a repeat read runs no Spark job, a
  * rewritten table resolves again, and the `events.ts` INT64 contract is
  * checked once, for batch and stream readers alike. */
class CatalogSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  /** sf0.001 events rewritten into a fresh dir with `ts` as a plain INT64:
    * microseconds since the epoch times `perMicro` (1000 for nanoseconds). */
  private def int64Events(perMicro: Long): String = {
    val d = TempDirs.create("graft_catalog_ts")
    Catalog.load(spark, dir, "events")
      .withColumn("ts", unix_micros(col("ts")) * perMicro)
      .write.parquet(Catalog.path(d, "events"))
    d
  }

  test("a resolved table reads again with no Spark job, batch or stream") {
    Catalog.tableNames.foreach(t => Catalog.load(spark, dir, t).schema)
    assert(jobsRun {
      Catalog.tableNames.foreach(t => Catalog.load(spark, dir, t).schema)
      Streams.eventStream(spark, dir).schema
      Streams.tableStream(spark, dir, "orders").schema
    } === 0)

    val d = TempDirs.create("graft_catalog_jobs")
    spark.range(10).write.parquet(Catalog.path(d, "t"))
    assert(jobsRun(Catalog.load(spark, d, "t").schema) === 1) // the footer inference
    assert(jobsRun(Catalog.load(spark, d, "t").schema) === 0)
  }

  test("a table rewritten in place resolves its new schema") {
    val d = TempDirs.create("graft_catalog_rewrite")
    val p = Catalog.path(d, "t")
    val base = spark.range(5).select(col("id").as("a"), (col("id") * 2).as("b"))
    base.write.parquet(p)
    assert(Catalog.load(spark, d, "t").columns.toSeq === Seq("a", "b"))

    base.withColumn("c", col("a") + 100).write.mode("overwrite").parquet(p)
    val added = Catalog.load(spark, d, "t")
    assert(added.columns.toSeq === Seq("a", "b", "c"))
    assert(added.orderBy("a").select("c").collect().map(_.getLong(0)).toSeq ===
      Seq(100L, 101L, 102L, 103L, 104L))

    base.drop("b").write.mode("overwrite").parquet(p)
    assert(Catalog.load(spark, d, "t").columns.toSeq === Seq("a"))
  }

  test("INT64 events.ts: nanoseconds load as timestamps, micros fail loudly") {
    val want = Catalog.load(spark, dir, "events")
    val nanos = int64Events(1000L)
    assert(spark.read.parquet(Catalog.path(nanos, "events")).schema("ts").dataType === LongType)
    val got = Catalog.load(spark, nanos, "events")
    assert(got.schema("ts").dataType === TimestampType)
    assert(got.orderBy("event_id").collect().toSeq === want.orderBy("event_id").collect().toSeq)

    val micros = int64Events(1L)
    val e = intercept[IllegalArgumentException](Catalog.load(spark, micros, "events"))
    assert(e.getMessage.contains("below the nanosecond range"), e.getMessage)
  }

  test("an event stream over INT64 nanosecond events drains like the batch") {
    val nanos = int64Events(1000L)
    def rows(df: DataFrame) = df.collect().toSeq.map(_.toSeq)
    val streamed = rows(Streams.tumblingAgg(spark, nanos))
    val batch = rows(Catalog.load(spark, nanos, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_val"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"), col("sum_val"))
      .orderBy("ws", "event_type"))
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("CHAR(n) blank-pad helpers reproduce the reference's fixed-length semantics") {
    import spark.implicits._
    val df = Seq(("abc", "abc  "), ("abc ", "abc"), ("ab", "abc")).toDF("a", "b")
    val eq = df.select(charEq(col("a"), col("b"))).collect().map(_.getBoolean(0))
    assert(eq.toSeq === Seq(true, true, false))
    val padded = df.select(charPad(col("a"), 5)).collect().map(_.getString(0))
    assert(padded.toSeq === Seq("abc  ", "abc  ", "ab   "))
  }
}
