package graft

import graft.engine.Catalog
import graft.queries.{Extended, Flagship, Parity}

/** The Spark jobs each relational row (`Flagship`, `Parity`, `Extended`)
  * runs while it is built on the sf0.001 fixture, with the shared pipelines
  * built first. Base-table schemas are resolved once per session
  * ([[Catalog.schema]]), so a row that only plans runs none; the rows pinned
  * non-zero run named driver collects at build. */
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
}
