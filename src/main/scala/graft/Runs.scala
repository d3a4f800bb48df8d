package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** The one run loop of the harnesses (Bench, ScaleSweep, Verify,
  * StressBench). A row is a build — `fn(spark, dir)`, which for many rows
  * already runs Spark jobs — and an action on what it built; the two are
  * timed separately, and each counts the classes codegen compiled while it
  * ran. A throw in either is a failure that keeps its cause and carries no
  * time: time-to-exception is never timed as a success. */
object Runs {

  /** One timed run: the action's result, build and action seconds, and the
    * classes codegen compiled during the build and during the action. */
  final case class Run[B](result: B, buildS: Double, runS: Double,
      buildCompiles: Long, runCompiles: Long) {
    def totalS: Double = buildS + runS
  }

  /** Classes the JVM's codegen has compiled so far: the compile-time
    * histogram's count, which counts every compile (its snapshot is a
    * sampled reservoir, so its sum does not). A warm query whose classes
    * the codegen cache holds compiles none. */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** `reps` back-to-back runs: the median run (by total seconds), the
    * relative spread (max − min) / median of the warm runs, and every
    * run's total in order. Rep 1 carries the row's one-time codegen/JIT and
    * cold page cache, so the spread leaves it out when there is more than
    * one rep: warm reps disagreeing is the contention signal. */
  final case class Measured(median: Run[Unit], warmSpread: Double,
      totalsS: Seq[Double]) {
    def medianS: Double = median.totalS
  }

  def time[A, B](build: => A)(action: A => B): Either[Throwable, Run[B]] =
    try {
      val (c0, t0) = (compiles(), System.nanoTime())
      val built = build
      val (c1, t1) = (compiles(), System.nanoTime())
      val out = action(built)
      val (c2, t2) = (compiles(), System.nanoTime())
      Right(Run(out, (t1 - t0) / 1e9, (t2 - t1) / 1e9, c1 - c0, c2 - c1))
    } catch { case e: Throwable => Left(e) }

  /** [[time]] `reps` times; stops at the first failure and returns it.
    * On success also returns the last run's result. */
  def measure[A, B](reps: Int)(build: => A)(action: A => B)
      : Either[Throwable, (Measured, B)] = {
    require(reps > 0)
    @annotation.tailrec
    def loop(done: Vector[Run[B]]): Either[Throwable, Vector[Run[B]]] =
      if (done.size == reps) Right(done)
      else time(build)(action) match {
        case Right(r) => loop(done :+ r)
        case Left(e) => Left(e)
      }
    loop(Vector.empty).map { runs =>
      val med = runs.sortBy(_.totalS).apply(reps / 2)
      val warm = (if (reps > 1) runs.tail else runs).map(_.totalS)
      val spread =
        if (med.totalS > 0) (warm.max - warm.min) / med.totalS else 0.0
      (Measured(med.copy(result = ()), spread, runs.map(_.totalS)),
        runs.last.result)
    }
  }

  /** The harnesses' timed action: runs `df`'s own plan to completion under
    * a SQL execution id, every row of every output column, as a caller's
    * action does, and returns the row count. `count()` would plan a new
    * aggregate that Catalyst prunes to the columns it needs, and leave
    * `df`'s plan unexecuted; after this, `df.queryExecution.executedPlan`
    * is the final adaptive plan that ran, and its scans carry their
    * metrics. */
  def materialize(df: DataFrame): Long = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("materialize"))(qe.executedPlan.execute().count())
  }

  /** First line of a failure's message, with its class. */
  def cause(e: Throwable): String =
    Option(e.getMessage).flatMap(_.linesIterator.nextOption())
      .fold(e.getClass.getName)(m => s"${e.getClass.getSimpleName}: $m")

  /** Dev subsets: `SPARK_GRAFT_ONLY=<regex>` selects the query rows,
    * pipelines and measurement rows whose names it matches, the same way
    * in every harness; unset selects everything. */
  private val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
  def picked(name: String): Boolean =
    only.forall(_.findFirstIn(name).isDefined)
  def subset: Boolean = only.nonEmpty

  /** Builds the picked shared pipelines once each, in order (later builds
    * may consume earlier ones), single-shot: they are once-per-session
    * materializations fanned out to many queries, timed here so per-query
    * numbers measure serving and not whichever consumer runs first.
    * Returns the seconds of each build that succeeded and the names of
    * those that threw, both keyed `pipeline:<name>`; each failure is
    * printed as `<tag> pipeline:<name> FAILED: <cause>`. */
  def frontPipelines(spark: SparkSession, dir: String, tag: String,
      pipelines: Seq[(String, (SparkSession, String) => Unit)])
      : (Seq[(String, Double)], Seq[String]) = {
    val runs = pipelines.collect { case (name, build) if picked(name) =>
      s"pipeline:$name" -> time(build(spark, dir))(identity)
    }
    runs.foreach { case (k, r) =>
      r.left.foreach(e => println(s"$tag $k FAILED: ${cause(e)}"))
    }
    (runs.collect { case (k, Right(r)) => k -> r.totalS },
      runs.collect { case (k, Left(_)) => k })
  }
}
