package graft.perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What one run shares across its workload: the session, the generated
  * inputs, a fresh run directory for every index, checkpoint and layout
  * the run writes, the directory that keeps outputs for the launcher's
  * checks, and the tracer. */
final class Ctx(val spark: SparkSession, val data: String, val runDir: String,
    val results: String, val seed: Long, val trace: Trace,
    val recorder: Option[Recorder], val failOp: Option[String]) {
  val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism

  /** A new directory under the run directory. */
  def dir(name: String): String = {
    val f = new java.io.File(runDir, name)
    f.mkdirs()
    f.getPath
  }

  /** Run `body` under the operation's build job group, so jobs the engine
    * starts while the benchmark constructs a DataFrame (eager collects,
    * persists) count as eager jobs. */
  def build[T](layer: String, name: String)(body: => T): T = {
    val g = sc.getLocalProperty("spark.jobGroup.id")
    if (g != null) sc.setJobGroup(s"$g/build", name, interruptOnCancel = false)
    try trace(layer, name)(body)
    finally if (g != null) sc.setJobGroup(g, name, interruptOnCancel = false)
  }

  /** Materialize the whole result as the caller would get it — the noop
    * sink runs the full plan, where `count()` lets Catalyst prune columns,
    * aggregates and whole subtrees. */
  def materialize(df: DataFrame, name: String): Unit =
    trace("spark", name)(df.write.format("noop").mode("overwrite").save())

  def collect(df: DataFrame, name: String): Array[org.apache.spark.sql.Row] =
    trace("spark", name)(df.collect())
}

/** One operation of a workload's closed loop. */
final case class Op(name: String, body: () => Unit)

/** The closed loop with one client: operations run back to back, each
  * timed from the call to its fully materialized result. An operation
  * that throws is counted as failed, its cause printed, and its time kept
  * out of every latency. */
final class Loop(ctx: Ctx) {
  /** (operation, seconds) of every success, in order. */
  val samples = mutable.ArrayBuffer.empty[(String, Double)]
  def latencies: Seq[Double] = samples.map(_._2).toSeq
  val byName = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0
  var failed = 0
  var elapsedS = 0.0
  private var nextId = 0

  def run(op: Op): Boolean = {
    val id = nextId
    nextId += 1
    attempted += 1
    ctx.sc.setJobGroup(s"op$id", op.name, interruptOnCancel = false)
    ctx.recorder.foreach(_.openOp = id)
    ctx.trace.beginOp(id, op.name)
    val t0 = System.nanoTime()
    val ok =
      try {
        if (ctx.failOp.contains(op.name))
          throw new IllegalStateException(s"injected failure in ${op.name}")
        op.body()
        true
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[graftbench] operation ${op.name} failed: $e")
          e.printStackTrace()
          false
      }
    val dt = (System.nanoTime() - t0) / 1e9
    ctx.trace.endOp()
    ctx.sc.clearJobGroup()
    if (ctx.trace.enabled) org.apache.spark.perfbench.ListenerDrain(ctx.sc)
    ctx.recorder.foreach(_.openOp = -1)
    if (ok) {
      samples += op.name -> dt
      byName.getOrElseUpdate(op.name, mutable.ArrayBuffer.empty) += dt
    }
    ok
  }

  /** Whole passes until `seconds` have elapsed (at least one pass): a
    * workload's pass is its unit of repetition, so every run measures the
    * same mix of operations. */
  def window(seconds: Double)(pass: Int => Seq[Op]): Unit = {
    val t0 = System.nanoTime()
    var p = 0
    while (p == 0 || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass(p).foreach(run)
      p += 1
    }
    elapsedS += (System.nanoTime() - t0) / 1e9
  }

  def succeeded: Int = attempted - failed
  def opsPerS: Double = succeeded / math.max(elapsedS, 1e-9)
}

/** A workload: set up, the operations of pass `p`, output checks run after
  * the timed loop, and the workload's own end-to-end and per-layer
  * figures. */
trait Workload {
  /** Named setup phases (catalog load, index and layout builds), timed
    * one by one; the first is the catalog load. */
  def setup(ctx: Ctx): Seq[(String, () => Unit)]
  /** Untimed operations after setup, so the timed loop runs warm code. */
  def warmup(ctx: Ctx): Unit = ()
  def pass(ctx: Ctx, p: Int): Seq[Op]
  /** (check name, passed, detail). */
  def checks(ctx: Ctx): Seq[(String, Boolean, String)]
  def endToEnd(ctx: Ctx, loop: Loop): Map[String, Double]
  /** The workload's own per-layer figures, after the traced window. */
  def layers(ctx: Ctx): Map[String, Double] = Map.empty
  /** Durations of setup tasks that ran side by side, seconds. */
  def setupTasks: Map[String, Double] = Map.empty
}

object Harness {
  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Bytes of all regular files under `path`. */
  def bytesUnder(path: String): Long = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("."))
        .mapToLong(p => java.nio.file.Files.size(p)).sum()
      finally s.close()
    }
  }

  def shuffled[T](xs: Seq[T], seed: Long): Seq[T] = new scala.util.Random(seed).shuffle(xs)

  /** Run independent setup tasks on up to `threads` threads, in order
    * (setup only; the timed loop has one client), and return each task's
    * duration in seconds. The first failure is rethrown. */
  def parallel(threads: Int, tasks: (String, () => Unit)*): Map[String, Double] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(threads, tasks.size))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(tasks.map { case (n, t) => Future(n -> timeS(t())) }),
      Duration.Inf).toMap
    finally pool.shutdown()
  }
}
