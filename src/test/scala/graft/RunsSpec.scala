package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ProjectExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.engine.PlanNodes

/** The harnesses' one run loop: what `Runs.measure` reports as the median
  * and spread, that a throw is a failure with its cause and no time, that
  * the build and action seconds account for the whole timed call, and that
  * a run counts the classes codegen compiled in each part, and that the
  * harnesses' action executes the frame's own plan, whole. */
class RunsSpec extends SparkSpec {

  test("measure: median run over reps, spread over the warm reps only") {
    // Rep 1 is the slow cold rep; reps 2 and 3 are 100 and 350 ms builds.
    val sleeps = Iterator(600L, 100L, 350L)
    val Right((m, last)) = Runs.measure(3) {
      Thread.sleep(sleeps.next()); spark.range(10)
    }(_.count())
    assert(last === 10L)
    assert(m.totalsS.size === 3)
    assert(m.medianS === m.totalsS.sorted.apply(1))
    assert(m.median.buildS >= 0.35 && m.median.buildS < 0.6, m)
    val warm = m.totalsS.tail
    assert(m.warmSpread === (warm.max - warm.min) / m.medianS)
    // One rep: the spread has no warm pair to compare and reads 0.
    val Right((one, _)) = Runs.measure(1)(spark.range(3))(_.count())
    assert(one.warmSpread === 0.0 && one.totalsS === Seq(one.medianS))
  }

  test("a build or an action that throws is a failure with its cause and no time") {
    val boom = new IllegalStateException("build failed")
    assert(Runs.time[DataFrame, Long](throw boom)(_.count()) === Left(boom))
    val Left(e) = Runs.time(spark.range(3).selectExpr("raise_error('row failed')"))(
      _.collect())
    assert(Runs.cause(e).contains("row failed"), Runs.cause(e))
    // measure stops at the first failing rep and reports it.
    var builds = 0
    val r = Runs.measure(3) {
      builds += 1
      if (builds == 2) throw boom
      spark.range(3)
    }(_.count())
    assert(r === Left(boom) && builds === 2)
    assert(Runs.cause(boom) === "IllegalStateException: build failed")
  }

  test("build plus action seconds equal the timed total") {
    val t0 = System.nanoTime()
    val Right(r) = Runs.time { Thread.sleep(150); spark.range(5) } { df =>
      Thread.sleep(100); df.count()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    assert(r.result === 5L)
    assert(r.buildS >= 0.15 && r.runS >= 0.1, r)
    assert(r.totalS === r.buildS + r.runS)
    // Nothing the call does is left out of (or double-counted in) the total.
    assert(r.totalS <= wall && wall - r.totalS < 0.05, (r, wall))
    val Right((m, _)) = Runs.measure(3)(spark.range(5))(_.count())
    assert(m.medianS === m.median.buildS + m.median.runS)
    assert(m.totalsS.contains(m.medianS))
  }

  test("a run counts the classes codegen compiled in its build and its action") {
    // The literal is inlined into the generated code, so this expression's
    // classes are new to the JVM on the first run and cached on the second.
    val salt = System.nanoTime()
    def q = spark.range(100).selectExpr(s"id * 7 + $salt AS v").filter("v % 3 = 0")
    val Right(first) = Runs.time(q)(_.collect())
    assert(first.buildCompiles === 0L && first.runCompiles >= 1L, first)
    val Right(again) = Runs.time(q)(_.collect())
    assert(again.buildCompiles === 0L && again.runCompiles === 0L, again)
  }

  test("materialize executes the frame's own plan: final adaptive plan, every column") {
    val dir = "/root/testdata/sf0.001"
    val ran = scala.collection.mutable.Buffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = ran.synchronized(ran += qe)
      def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def run(name: String) = {
      val Right(r) = Runs.time(SparkEntry.queries(name)(spark, dir)) { df =>
        Runs.materialize(df); df }
      r
    }
    spark.listenerManager.register(listener)
    val (q1, fp) =
      try (run("tpch_q1_pricing_summary"), run("text_fingerprint"))
      finally {
        org.apache.spark.graftx.ListenerDrain(spark.sparkContext)
        spark.listenerManager.unregister(listener)
      }
    // The execution that ran is each frame's own QueryExecution (count()
    // would have run a new one), and its adaptive plan is final.
    for (r <- Seq(q1, fp)) {
      assert(ran.exists(_ eq r.result.queryExecution))
      r.result.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => assert(a.isFinalPlan)
        case p => fail(s"not an adaptive plan: ${p.nodeName}")
      }
    }
    // q1's eight aggregate functions (four sums, the two averages' sums and
    // counts, less the shared sum(l_quantity), and count(1)) and
    // text_fingerprint's fp_min8 projection ran; count() prunes both.
    val aggs = PlanNodes.serveNodes(q1.result)
      .collect { case a: BaseAggregateExec => a.aggregateExpressions.size }
    assert(aggs.nonEmpty && aggs.forall(_ == 8), aggs)
    assert(PlanNodes.serveNodes(fp.result).exists {
      case p: ProjectExec => p.projectList.exists(_.name == "fp_min8")
      case _ => false
    })
    // Build and run seconds are still split around the one action.
    for (r <- Seq(q1, fp))
      assert(r.buildS > 0 && r.runS > 0 && r.totalS === r.buildS + r.runS, r)
  }
}
