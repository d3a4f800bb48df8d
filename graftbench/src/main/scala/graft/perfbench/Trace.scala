package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run: an operation (`layer = "bench"`)
  * or a call the benchmark makes into one of the engine's layers. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    op: Int, startNs: Long, var endNs: Long = 0L)

/** Spark-side counters of one operation, collected by [[Recorder]]. */
final class ExecAcc {
  var jobs, buildJobs, stages, tasks = 0L
  var taskWaitMs, taskRunMs, taskCpuMs, gcMs = 0.0
  var shuffleRead, shuffleWrite, spill, outputBytes, peakExecMem = 0L
  var planMs = 0.0
  var filesListed, filesRead = 0L
}

/** Listener half of the traced run. Spark events are attributed to the
  * operation through the job group the benchmark sets around it
  * (`op<id>` while the engine runs the plan, `op<id>/build` while the
  * benchmark constructs it, so eager jobs are told apart); query-execution
  * callbacks carry no job group and go to the open operation, which is
  * safe because the traced run drains the listener bus after each one. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val perOp = mutable.Map.empty[Int, ExecAcc]
  private val stageOp = mutable.Map.empty[Int, (Int, Boolean)]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  @volatile var openOp: Int = -1

  private def acc(op: Int) = perOp.getOrElseUpdate(op, new ExecAcc)

  private def parseGroup(g: String): Option[(Int, Boolean)] =
    Option(g).filter(_.startsWith("op")).flatMap { s =>
      val build = s.endsWith("/build")
      s.stripPrefix("op").stripSuffix("/build").toIntOption.map(_ -> build)
    }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    parseGroup(g).foreach { case (op, build) =>
      val a = acc(op)
      a.jobs += 1
      if (build) a.buildJobs += 1
      e.stageIds.foreach(s => stageOp(s) = op -> build)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmitMs(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageOp.get(id).foreach { case (op, _) => acc(op).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { case (op, _) =>
      val a = acc(op)
      a.tasks += 1
      stageSubmitMs.get(e.stageId).foreach(s =>
        a.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        a.taskRunMs += m.executorRunTime
        a.taskCpuMs += m.executorCpuTime / 1e6
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (openOp >= 0) {
        val a = acc(openOp)
        a.planMs += Seq("analysis", "optimization", "planning")
          .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
        graft.engine.ScanMetrics.scans(qe.executedPlan).foreach { f =>
          a.filesListed += f.relation.location.inputFiles.length
          a.filesRead += f.metrics.get("numFiles").map(_.value).getOrElse(0L)
        }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** The traced run's span store. In the untraced runs that produce the
  * end-to-end metrics no span is kept, only each named call's duration.
  * Spans stay in memory and are written out once, at the end of the run. */
final class Trace(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val durations = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val stack = mutable.Stack.empty[Int]
  private var op = -1

  def beginOp(opId: Int, name: String): Unit = {
    op = opId
    if (enabled) open(name, "bench")
  }

  def endOp(): Unit = {
    if (enabled) close()
    op = -1
  }

  private def open(name: String, layer: String): Unit = {
    val s = Span(spans.size, name, layer, stack.headOption.getOrElse(-1), op,
      System.nanoTime())
    spans += s
    stack.push(s.id)
  }

  private def close(): Unit = spans(stack.pop()).endNs = System.nanoTime()

  /** Time `body` as a call into `layer`. */
  def apply[T](layer: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    if (enabled) open(name, layer)
    try body
    finally {
      if (enabled) close()
      durations.synchronized {
        durations.getOrElseUpdate(name, mutable.ArrayBuffer.empty) +=
          (System.nanoTime() - t0) / 1e6
      }
    }
  }

  /** Per layer: summed duration minus the time of nested spans (self
    * time), in ms per operation. */
  def selfMsPerOp(ops: Int): Map[String, Double] = {
    val child = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - child(s.id)).sum / 1e6 / math.max(1, ops)
    }
  }

  /** Median duration (ms) of the calls named `name`. */
  def medianMs(name: String): Double =
    Stats.median(durations.get(name).map(_.toSeq).getOrElse(Nil))

  /** Median duration (ms) of every named call. */
  def medians: Map[String, Double] =
    durations.map { case (n, ds) => n -> Stats.median(ds.toSeq) }.toMap

  /** Duration (ms) of the latest call named `name`. */
  def lastMs(name: String): Double = durations.get(name).flatMap(_.lastOption).getOrElse(0.0)

  def toJson(t0: Long): String = spans.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
      "op" -> s.op, "start_ms" -> (s.startNs - t0) / 1e6, "end_ms" -> (s.endNs - t0) / 1e6)
  }.mkString("[\n", ",\n", "\n]")
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least 10 samples above it: (value,
    * percentile). Below 11 samples no percentile has 10 above it, and the
    * minimum is reported at percentile 0. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else {
      val s = xs.sorted
      val i = math.max(0, s.size - 11)
      (s(i), if (s.size > 1) 100.0 * i / (s.size - 1) else 0.0)
    }
}

/** Minimal JSON rendering for the result record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').result()
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}: ${value(x)}" }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => s"${str(k)}: ${value(x)}" }.mkString("{", ", ", "}")
}
