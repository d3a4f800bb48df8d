package graft.ops

import scala.collection.mutable
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One module's session-shared builds: the materializations many queries fan
  * out from (the LSH pair set, a trained quantizer, an index written to a
  * temp dir, a bucketed layout). Each build is declared once, under its
  * pipeline name, and called like a function — `lshPairs(s, dir)`; the
  * module's [[pipelines]] are its declarations in order (later builds may
  * consume earlier ones). The values live in the one store of the companion
  * object. */
final class SharedBuilds {
  import SharedBuilds.Build

  private val declared = mutable.ArrayBuffer.empty[Build[_]]

  /** A build whose value holds nothing to release (a path, driver data). */
  def apply[V](name: String)(build: (SparkSession, String) => V): Build[V] =
    declare(new Build(name, build, (_: V) => ()))

  /** A build whose value holds persisted `frames`; release unpersists them. */
  def persisted[V](name: String)(build: (SparkSession, String) => V)(
      frames: V => Seq[DataFrame]): Build[V] =
    declare(new Build[V](name, build, v => frames(v).foreach(_.unpersist())))

  /** The declared builds as named bench pipelines (see
    * [[graft.SparkEntry.pipelines]]), in declaration order. */
  def pipelines: Seq[(String, (SparkSession, String) => Unit)] =
    declared.toSeq.map(b => b.name -> ((s: SparkSession, d: String) => { b(s, d); () }))

  private def declare[V](b: Build[V]): Build[V] = {
    declared += b
    b
  }
}

/** The one store for session-shared builds, keyed by (applicationId, data
  * dir, pipeline name). Production dedup DAGs materialize these once and
  * fan them out; this is the library-embedded analog.
  *
  * One eviction policy: the first build under a new (applicationId, dir)
  * releases every entry under any other key, whichever name it has, then
  * the ops' lazy persists ([[CacheRegistry.releaseAll]]). An app iterating
  * over data dirs (the scale sweep, a backfill over dated partitions) would
  * otherwise keep session-lifetime caches per dir. One live key is the
  * working-set assumption — consumers of dir A all run before dir B starts
  * — and releasing is always safe: a consumer holding a released frame
  * recomputes, it never sees stale data.
  *
  * No lock is held across a build: builds of different names run
  * concurrently (a layout build beside the queries that do not need it),
  * a build may call other builds (components over pairs), concurrent calls
  * for one name build once, and a build that throws caches nothing. */
object SharedBuilds {

  /** A declared build; `apply` returns the store's value, building it on
    * the first call per (applicationId, dir). */
  final class Build[V] private[SharedBuilds] (
      val name: String,
      build: (SparkSession, String) => V,
      release: V => Unit) extends ((SparkSession, String) => V) {

    def apply(s: SparkSession, dir: String): V = {
      val live = (s.sparkContext.applicationId, dir)
      val mine = new Entry(release)
      val (entry, evicted) = SharedBuilds.synchronized {
        val evicted = if (current.forall(_ == live)) None else {
          val old = entries.values.toList
          entries.clear()
          Some(old)
        }
        current = Some(live)
        (entries.getOrElseUpdate(name, mine).asInstanceOf[Entry[V]], evicted)
      }
      evicted.foreach { old =>
        old.foreach(_.drop())
        CacheRegistry.releaseAll()
      }
      if (entry ne mine) Await.result(entry.value.future, Duration.Inf)
      else {
        val v = try build(s, dir) catch {
          case e: Throwable =>
            SharedBuilds.synchronized(if (holds(mine)) entries.remove(name))
            mine.value.failure(e)
            throw e
        }
        mine.value.success(v)
        // Evicted while it built: nothing will release it later.
        if (!SharedBuilds.synchronized(holds(mine))) release(v)
        v
      }
    }

    private def holds(e: Entry[_]): Boolean = entries.get(name).exists(_ eq e)
  }

  private final class Entry[V](release: V => Unit) {
    val value: Promise[V] = Promise[V]()
    /** Releases a built value; a build still running releases its own. */
    def drop(): Unit = value.future.value.foreach(_.foreach(release))
  }

  /** Entries under the live (applicationId, dir), by name. */
  private val entries = mutable.HashMap.empty[String, Entry[_]]
  private var current = Option.empty[(String, String)]
}
