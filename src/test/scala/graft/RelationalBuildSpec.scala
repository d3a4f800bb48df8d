package graft

import org.apache.spark.sql.DataFrame

import graft.engine.Catalog
import graft.queries.{Extended, Flagship, Parity}

/** The Spark jobs each relational row (`Flagship`, `Parity`, `Extended`)
  * runs while it is built on the sf0.001 fixture, with the shared pipelines
  * built first. Base-table schemas are resolved once per session
  * ([[Catalog.schema]]), so a row that only plans runs none; the rows pinned
  * non-zero run named driver collects at build.
  *
  * Also the classes codegen compiles for a warm pass over the benchmark's
  * relational rows: none, because [[graft.engine.GraftSession]] sizes the
  * JVM-wide codegen cache to hold them. The cache is sized once per JVM, by
  * the first session that compiles, so this suite runs in a test JVM of its
  * own (`Test / testGrouping` in build.sbt) whose first session is its
  * `SparkSpec` one. */
class RelationalBuildSpec extends SparkSpec with SlowSuite {
  private val dir = "/root/testdata/sf0.001"

  test("relational rows: Spark jobs run while each row is built") {
    // the two sink rows write their table and read it back at build
    val nonZero = Map("s7_insert_sink" -> 3, "s8_delete_sink" -> 4)
    val rows = Flagship.all ++ Parity.all ++ Extended.all
    Runs.frontPipelines(spark, dir, "[build-jobs]", Flagship.pipelines)
    Catalog.tableNames.foreach(t => Catalog.schema(spark, dir, t))
    val counted = rows.map(q => q.name -> jobsRun(q.run(spark, dir)))
    println(s"[build-jobs] ${counted.filter(_._2 > 0)}")
    assert(counted === rows.map(q => q.name -> nonZero.getOrElse(q.name, 0)))
  }

  test("relational pool: a second pass in another order compiles no class") {
    // The benchmark's relational pool: eight TPC-H shapes and one parity row.
    val pool = Seq("tpch_q1_pricing_summary", "tpch_q6_forecast_revenue",
      "tpch_q9_profit_proxy", "tpch_q18_large_orders", "tpch_q18_bucketed",
      "tpch_q21_waiting_supplier", "tpch_q21_bucketed", "tpch_q22_prospects",
      "a1_groupby_5agg")
    val queries = (Flagship.all ++ Parity.all).map(q => q.name -> q).toMap
    Runs.frontPipelines(spark, dir, "[codegen]", Flagship.pipelines)
    def pass(order: Seq[String]): Seq[(String, Long)] = order.map { n =>
      val Right(r) = Runs.time(queries(n).run(spark, dir))(
        (_: DataFrame).write.format("noop").mode("overwrite").save())
      n -> (r.buildCompiles + r.runCompiles)
    }
    val cold = pass(pool)
    val warm = pass(pool.reverse)
    println(s"[codegen] cold ${cold.map(_._2).sum} $cold; warm ${warm.map(_._2).sum} $warm")
    assert(cold.map(_._2).sum > 0)
    assert(warm.map(_._2).sum === 0L, warm)
  }
}
