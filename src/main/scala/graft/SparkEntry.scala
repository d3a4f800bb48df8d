package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{CorpusQ, DedupQ, Extended, Flagship, MultimodalQ, Parity, PipelineQ, Q, SimilarityQ, SourcesQ, StreamQ, TextQ, TrainQ}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** All conformance queries, grouped by module. */
  def allQueries: Seq[Q] =
    Parity.all ++ Extended.all ++ Flagship.all ++ DedupQ.all ++ SimilarityQ.all ++
      TextQ.all ++ MultimodalQ.all ++ StreamQ.all ++ SourcesQ.all ++ CorpusQ.all ++
      TrainQ.all ++ PipelineQ.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's group-customers pipeline (scan→join→agg→sort,
    * TestPhysicalOperatorsIIIStudents.java:231-301). */
  def entry(spark: SparkSession): DataFrame =
    queries("a1_groupby_5agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Q.queryMap(allQueries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Q.oracleMap(allQueries)

  /** The session-shared builds by pipeline name (materializations fanned
    * out to many queries: LSH pairs, near-dup components, the Lloyd
    * training run), each module's declarations in order
    * ([[graft.ops.SharedBuilds]]). Bench times these explicitly before the
    * per-query loop so the build cost isn't misattributed to whichever
    * consumer runs first. Ordered: later builds may consume earlier ones. */
  def pipelines: Seq[(String, (SparkSession, String) => Unit)] =
    DedupQ.pipelines ++ TrainQ.pipelines ++ Flagship.pipelines ++
      SourcesQ.pipelines ++ PipelineQ.pipelines ++ CorpusQ.pipelines ++
      SimilarityQ.pipelines
}
