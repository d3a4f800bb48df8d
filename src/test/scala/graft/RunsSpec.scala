package graft

import org.apache.spark.sql.DataFrame

/** The harnesses' one run loop: what `Runs.measure` reports as the median
  * and spread, that a throw is a failure with its cause and no time, that
  * the build and action seconds account for the whole timed call, and that
  * a run counts the classes codegen compiled in each part. */
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
}
