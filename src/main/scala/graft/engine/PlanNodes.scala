package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** Executed-plan inspection shared by the bench fingerprint and the
  * plan-shape specs: walk the FINAL adaptive plan (descending adaptive
  * wrappers and query stages) and STOP at cache boundaries, so the node
  * list describes the serve plan actually executed — the plan-STRING
  * rendering repeats each cached relation's build plan under every scan
  * site, which inflates string-grep counts ~5× on cache-heavy queries. */
object PlanNodes {

  /** All serve-plan nodes of `df`'s executed plan, cached-build subplans
    * excluded. Execute `df`'s own plan first (`graft.Runs.materialize`,
    * `collect()`) so AQE has finalized it: `count()` runs a new plan and
    * leaves `df`'s initial plan in place. */
  def serveNodes(df: DataFrame): Seq[SparkPlan] =
    walk(df.queryExecution.executedPlan)

  /** Walk including REUSED exchanges: `ReusedExchangeExec` is a leaf that
    * references another exchange subtree, so a plain children-walk would
    * undercount — a plan regression (new shuffle, new cached broadcast)
    * hidden behind AQE exchange reuse would not move the fingerprint
    * (round-8 advice). Descending into the referenced subtree makes the
    * counts CONSUMPTION sites (one physical exchange read twice counts
    * twice), which is the right diff signal: a row acquiring a second
    * consumer of a fact-scale exchange IS a plan change worth seeing. */
  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      walk(r.child)
    case i: InMemoryTableScanExec => Seq(i)
    case other => other +: other.children.flatMap(walk)
  }

  /** Broadcast exchanges whose build subtree reads a CACHED relation — the
    * round-8 hazard class: a persisted intermediate sized by
    * InMemoryRelation stats and broadcast at PLANNING time, correct at
    * test scale and an OOM plan once the cached table grows with the
    * corpus (containment postings, basket table). Legitimate hits exist —
    * `Skew.broadcastIfBounded` broadcasts a persisted table from its
    * MEASURED size — so the count is a diff signal, not an error: a row
    * whose value rises round-over-round acquired a new cached broadcast
    * nobody sized. */
  def cachedBroadcasts(nodes: Seq[SparkPlan]): Int = nodes.count {
    case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
      walk(b).exists(_.isInstanceOf[InMemoryTableScanExec])
    case _ => false
  }

  /** Shuffle exchanges with hash partitioning among `nodes` — the per-query
    * shuffle count the fingerprint tracks. */
  def hashExchanges(nodes: Seq[SparkPlan]): Int = nodes.count {
    case e: ShuffleExchangeExec =>
      e.outputPartitioning.isInstanceOf[HashPartitioning]
    case _ => false
  }

  /** The per-row plan fingerprint the bench records and the plan gate
    * reads (`hashExchanges`, `cachedBroadcast`): exchange, join-strategy
    * and AQE shuffle-read counts of `df`'s serve plan, in a fixed order;
    * the bench reads it after its timed execution.
    * A string scan of the executed plan, not a Spark job. */
  def fingerprint(df: DataFrame): Seq[(String, Int)] = {
    val all = serveNodes(df)
    Seq("hashExchanges" -> hashExchanges(all),
      "broadcastHash" -> count(all, "BroadcastHashJoin"),
      "sortMerge" -> count(all, "SortMergeJoin"),
      "shuffledHash" -> count(all, "ShuffledHashJoin"),
      "nestedLoop" -> count(all, "BroadcastNestedLoopJoin"),
      "cartesian" -> count(all, "CartesianProduct"),
      "cachedBroadcast" -> cachedBroadcasts(all),
      "aqeShuffleReads" -> count(all, "AQEShuffleRead"))
  }

  /** Count serve nodes whose nodeName contains `name`. */
  def count(nodes: Seq[SparkPlan], name: String): Int =
    nodes.count(_.nodeName.contains(name))
}
