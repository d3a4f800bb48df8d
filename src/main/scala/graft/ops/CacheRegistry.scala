package graft.ops

import org.apache.spark.sql.DataFrame

/** Registry for the LAZY persists inside composable ops (the pair miners'
  * shingle sets, inverted-index postings, span tables): the op returns an
  * unevaluated DataFrame that references the persisted intermediate, so —
  * unlike [[Quantiles.exactPercentiles]], which materializes its brackets
  * eagerly and unpersists before returning — the op itself can never know
  * when it is safe to release. Tracking the handle here gives the session a
  * release point instead of leaking the cache until `spark.stop()`.
  *
  * Growth is bounded: entries key on the canonicalized logical plan (same
  * dedupe rule as Spark's own CacheManager), so re-running a query tracks
  * ONE handle per distinct cached plan, not one per call.
  *
  * Release sites: the [[SharedBuilds]] store calls [[releaseAll]] on the
  * first build under a new data dir (dir-sequential apps — the scale
  * sweep, a backfill — drop the previous dir's miner caches together with
  * its shared builds), and applications embedding the ops directly call
  * [[releaseAll]] at their own batch boundaries. Unpersisting
  * is always semantically safe: the pipelines are deterministic, so a
  * late-referencing consumer merely recomputes.
  */
object CacheRegistry {

  private val tracked =
    scala.collection.mutable.Map.empty[(String, Int), DataFrame]

  /** Record a persisted intermediate for later release; returns `df`.
    * Call as `CacheRegistry.track(x.persist(level))`. */
  def track(df: DataFrame): DataFrame = synchronized {
    val key = (df.sparkSession.sparkContext.applicationId,
      df.queryExecution.logical.canonicalized.semanticHash())
    tracked.getOrElseUpdate(key, df)
    df
  }

  /** Number of live tracked handles (test/observability hook). */
  def size: Int = synchronized(tracked.size)

  /** Unpersist every tracked intermediate and forget the handles. */
  def releaseAll(): Unit = synchronized {
    tracked.valuesIterator.foreach(_.unpersist())
    tracked.clear()
  }
}
