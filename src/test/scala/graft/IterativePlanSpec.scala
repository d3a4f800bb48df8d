package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Pins the round-loop contract of the iterative graph ops on a path graph:
  * the returned frame's LOGICAL plan is the same size at 15 rounds as at 3
  * (lineage cuts rebase on checkpointed blocks, and the plan keeps one uncut
  * round over the last cut; connected components, which takes no round
  * count, stays at most 6 nodes), the values equal the path graph's closed
  * forms, and building a frame runs only the jobs its cuts and convergence
  * checks need (pinned per operator). The failure mode the plan pin guards — driver-side
  * planning/stack blowup at high round counts — is invisible at the 3
  * rounds the conformance queries run. */
class IterativePlanSpec extends SparkSpec with SlowSuite {

  private def planSize(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case n => n }.length

  /** The frame `build` returns, its optimized-plan size and the Spark jobs
    * started while it was built (job group + statusTracker, listener bus
    * drained first). The ops' tracked caches are released first, so each
    * count starts cold; the plan is sized before the next build releases
    * the caches it reads. */
  private def built(build: => DataFrame): (DataFrame, Int, Int) = {
    graft.ops.CacheRegistry.releaseAll()
    val sc = spark.sparkContext
    val group = s"iterative-build-${System.nanoTime()}"
    sc.setJobGroup(group, group)
    try {
      val df = build
      org.apache.spark.graftx.ListenerDrain(sc)
      (df, planSize(df), sc.statusTracker.getJobIdsForGroup(group).length)
    } finally sc.clearJobGroup()
  }

  // Path graph 0-1-2-…-15: min-label/seed information travels ONE hop per
  // round, forcing ~14 rounds — far past every cut.
  private def pathNodes = {
    import spark.implicits._
    (0L to 15L).toDF("id")
  }
  private def pathEdges = {
    import spark.implicits._
    (0L until 15L).map(i => (i, i + 1)).toDF("d1", "d2")
  }

  /** (id, value or None) rows of column 1, by id. */
  private def values(df: DataFrame): Seq[(Long, Option[Long])] =
    df.orderBy("id").collect().toSeq
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))

  test("connectedComponents: bounded plan at high round count, result exact") {
    val (cc, size, jobs) = built(Dedup.connectedComponents(pathNodes, pathEdges, "id"))
    assert(size <= 6, s"plan grew with rounds:\n${cc.queryExecution.optimizedPlan}")
    val got = cc.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq === (0L to 15L).map(i => (i, 0L)))
    // 16 rounds (15 to converge, 1 that repeats Σcomp), each cut, and 17
    // Σcomp checks (the initial labels and each cut); the frame is the last
    // cut, so nothing runs for the return
    assert(jobs === 83)
  }

  test("labelPropagation: bounded plan, 12-round spread correct, truncation value-neutral") {
    import spark.implicits._
    val seeds = Seq((0L, 7L)).toDF("id", "lab")
    def lpa(rounds: Int) = built(Dedup.labelPropagation(pathNodes, pathEdges,
      "id", seeds, "lab", rounds))
    val (many, manySize, _) = lpa(15)
    val (few, fewSize, jobs) = lpa(3)
    assert(manySize === fewSize,
      s"plan grew with rounds:\n${many.queryExecution.optimizedPlan}")
    // the seed label walks one hop per round: after r rounds nodes 0..r
    // carry it and the rest are unlabeled
    for ((df, r) <- Seq(many -> 15, lpa(5)._1 -> 5))
      assert(values(df) === (0L to 15L).map(i => i -> Option.when(i <= r)(7L)))
    assert(jobs === 13) // one cut (rounds 1-2); round 3 is left to the caller
    assert(lpa(1)._3 === 0) // no cut, no job
  }

  test("bfsDistance: bounded plan at 15 hops, truncation value-neutral") {
    import spark.implicits._
    val seeds = Seq(0L).toDF("id")
    def bfs(hops: Int) = built(Dedup.bfsDistance(pathNodes, pathEdges, "id",
      seeds, maxHops = hops))
    val (many, manySize, _) = bfs(15)
    val (few, fewSize, jobs) = bfs(3)
    assert(manySize === fewSize,
      s"plan grew with hops:\n${many.queryExecution.optimizedPlan}")
    // hop distance along the path IS the node index, NULL past maxHops
    for ((df, h) <- Seq(many -> 15, bfs(6)._1 -> 6))
      assert(values(df) === (0L to 15L).map(i => i -> Option.when(i <= h)(i)))
    assert(jobs === 12) // one cut (hops 1-2)
    assert(bfs(1)._3 === 0)
  }

  test("weightedDistance: bounded plan at 15 rounds, truncation value-neutral") {
    import spark.implicits._
    val seeds = Seq(0L).toDF("id")
    val wEdges = pathEdges.withColumn("w", col("d2") * 10L) // edge i→i+1 weighs 10(i+1)
    def bf(rounds: Int) = built(Dedup.weightedDistance(pathNodes, wEdges, "id",
      "w", seeds, maxRounds = rounds))
    val (many, manySize, _) = bf(15)
    val (few, fewSize, jobs) = bf(3)
    assert(manySize === fewSize,
      s"plan grew with rounds:\n${many.queryExecution.optimizedPlan}")
    // distance to node k = 10 * (1 + 2 + … + k), reached within k rounds
    for ((df, r) <- Seq(many -> 15, bf(6)._1 -> 6))
      assert(values(df) ===
        (0L to 15L).map(i => i -> Option.when(i <= r)(10L * i * (i + 1) / 2)))
    assert(jobs === 11) // one cut (rounds 1-2)
    assert(bf(1)._3 === 0)
  }

  test("pageRank: bounded plan at 9 iterations, truncation value-neutral") {
    def pr(iters: Int) = built(Dedup.pageRank(pathNodes, pathEdges, "id", iters))
    val (many, manySize, _) = pr(15)
    val (few, fewSize, jobs) = pr(3)
    assert(manySize === fewSize,
      s"plan grew with iters:\n${many.queryExecution.optimizedPlan}")
    // The recurrence in plain Scala: fixed point at scale 1e12, contribution
    // rank div degree, rank' = 0.15 + (17 * sum) div 20.
    val One = 1000000000000L
    val deg = (0 to 15).map(i => if (i == 0 || i == 15) 1L else 2L)
    def reference(iters: Int): Seq[Long] =
      (1 to iters).foldLeft(Seq.fill(16)(One)) { (rank, _) =>
        (0 to 15).map { v =>
          val sum = Seq(v - 1, v + 1).filter(u => u >= 0 && u <= 15)
            .map(u => rank(u) / deg(u)).sum
          15L * One / 100 + 17 * sum / 20
        }
      }
    for ((df, it) <- Seq(many -> 15, pr(9)._1 -> 9)) {
      val got = df.orderBy("id").collect().toSeq.map(r => (r.getLong(1), r.getLong(2)))
      assert(got === deg.zip(reference(it)), s"iters=$it")
    }
    assert(jobs === 13) // one cut (iterations 1-2)
    assert(pr(1)._3 === 0)
  }

  test("kCore: bounded plan, peel exact on the path, early exit at the fixpoint") {
    def kc(rounds: Int) = built(Dedup.kCore(pathNodes, pathEdges, "id", k = 2, rounds))
    val (many, manySize, _) = kc(15)
    val (few, fewSize, jobs) = kc(3)
    assert(manySize === fewSize,
      s"plan grew with rounds:\n${many.queryExecution.optimizedPlan}")
    // each round peels the two degree-1 ends: r rounds keep r..15-r, and
    // the path empties after 8 rounds (no 2-core)
    def inCore(df: DataFrame) =
      df.orderBy("id").collect().toSeq.map(r => r.getLong(0) -> r.getBoolean(1))
    assert(inCore(few) === (0L to 15L).map(i => i -> (i >= 3 && i <= 12)))
    assert(inCore(many) === (0L to 15L).map(i => i -> false))
    assert(jobs === 21) // 3 cuts and 4 alive counts (initial + each cut)
  }
}
