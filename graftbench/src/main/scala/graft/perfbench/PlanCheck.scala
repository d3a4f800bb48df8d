package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.queries.{Flagship, TextQ}

/** Self-test of the timed action: the plan the noop sink executes keeps
  * every output column the query computes — `tpch_q1_pricing_summary`'s
  * aggregates and `text_fingerprint`'s `fp_min8` — where `count()` lets
  * Catalyst prune them. Reports, per query, the computed columns missing
  * from the executed plan under each action. */
object PlanCheck {
  private def executedPlan(df: DataFrame)(action: DataFrame => Unit): String = {
    val captured = new java.util.concurrent.atomic.AtomicReference[String]("")
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        captured.set(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    df.sparkSession.listenerManager.register(l)
    try {
      action(df)
      org.apache.spark.perfbench.ListenerDrain(df.sparkSession.sparkContext)
    } finally df.sparkSession.listenerManager.unregister(l)
    captured.get
  }

  def apply(ctx: Ctx): Map[String, Any] = {
    val cases = Seq(
      ("tpch_q1_pricing_summary", Flagship.all, Seq("sum_qty", "sum_base_price",
        "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "avg_disc", "count_order")),
      ("text_fingerprint", TextQ.all, Seq("fp_min8")))
    cases.map { case (name, qs, cols) =>
      val df = qs.find(_.name == name).get.run(ctx.spark, ctx.data)
      val present = cols.filter(df.columns.contains)
      val noop = executedPlan(df)(_.write.format("noop").mode("overwrite").save())
      val count = executedPlan(df)(d => { d.count(); () })
      name -> Map(
        "columns" -> present,
        "missing_under_noop" -> present.filterNot(c => noop.contains(s"$c#")),
        "missing_under_count" -> present.filterNot(c => count.contains(s"$c#")))
    }.toMap
  }
}
