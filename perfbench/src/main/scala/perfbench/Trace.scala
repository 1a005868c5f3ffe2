package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Work one span caused itself (children keep their own). */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, gcMs, shuffleWriteBytes, shuffleReadBytes = 0L
  var spillBytes, outputBytes, planMs, compiles = 0L
  var compileMs = 0.0

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskMs += o.taskMs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes; outputBytes += o.outputBytes
    planMs += o.planMs; compiles += o.compiles; compileMs += o.compileMs
  }

  def toJson: String = Json.obj(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_ms" -> taskMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_read_bytes" -> shuffleReadBytes, "spill_bytes" -> spillBytes,
    "output_bytes" -> outputBytes, "plan_ms" -> planMs,
    "codegen_compiles" -> compiles, "codegen_compile_ms" -> compileMs)
}

final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, counters: Counters) {
  var endNs: Long = -1L
  def durNs: Long = endNs - startNs
}

object SelfTime {
  /** A span's self time: its duration minus the part of it that the
    * union of its children's intervals covers (children are clipped to
    * the parent; overlapping children are counted once).
    */
  def selfNs(start: Long, end: Long, children: Seq[(Long, Long)]): Long =
    (end - start) - covered(start, end, children)

  /** Length of the union of `intervals` clipped to [start, end]. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Running totals of Spark's public `CodegenMetrics` source. The
  * compile-time histogram keeps at most 1028 samples; while fewer
  * compiles have happened the sum is exact, after that it is the
  * reservoir mean times the count.
  */
object Codegen {
  final case class Totals(compiles: Long, ms: Double)

  def read(): Totals = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    val vals = snap.getValues
    Totals(n, if (n <= vals.length) vals.map(_.toDouble).sum else snap.getMean * n)
  }
}

/** Records spans around the benchmark's calls into the library and
  * attributes Spark's listener events to the innermost open span.
  *
  * Jobs and stages carry the span id in a thread-local Spark property,
  * which Spark copies into their start events; tasks inherit their
  * stage's span. Planning time (QueryExecutionListener) and codegen
  * compiles have no such property: they go to the span that was
  * innermost when they were seen, which is exact because the listener
  * bus is drained whenever a span opens or closes.
  *
  * With `enabled = false` spans cost nothing and record nothing.
  */
final class Tracer(spark: SparkSession, runId: String, val enabled: Boolean) {
  import Tracer._
  private val sc: SparkContext = spark.sparkContext
  private val spanList = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  @volatile private var innermost: Int = Unattributed
  private val unattributed = new Counters
  private var codegenLast = Codegen.read()

  // listener-side state: touched from the listener thread only, read
  // by the driver thread after a drain
  private val stageSpan = mutable.Map[Int, Int]()
  private val stageTasks = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  private val stageWall = mutable.Map[Int, Long]()
  private val stageName = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  private def countersOf(span: Int): Counters =
    if (span == Unattributed) unattributed else spanList(span).counters

  private def spanProp(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(Unattributed)

  private def locked[T](body: => T): T = Tracer.this.synchronized(body)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = locked {
      jobStart(e.jobId) = e.time
      countersOf(spanProp(e.properties)).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = locked {
      jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = locked {
      val s = spanProp(e.properties)
      stageSpan(e.stageInfo.stageId) = s
      countersOf(s).stages += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = locked {
      val i = e.stageInfo
      for (a <- i.submissionTime; b <- i.completionTime) stageWall(i.stageId) = b - a
      stageName(i.stageId) = i.name
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = locked {
      val c = countersOf(stageSpan.getOrElse(e.stageId, Unattributed))
      c.tasks += 1
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = locked {
      countersOf(innermost).planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def settle(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val now = Codegen.read()
    locked {
      val c = countersOf(innermost)
      c.compiles += now.compiles - codegenLast.compiles
      c.compileMs += math.max(0.0, now.ms - codegenLast.ms)
    }
    codegenLast = now
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      settle()
      val s = locked {
        val sp = Span(spanList.size, name, stack.headOption.map(_.id)
          .getOrElse(Unattributed), runId, System.nanoTime(), new Counters)
        spanList += sp
        sp
      }
      stack = s :: stack
      innermost = s.id
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        settle()
        s.endNs = System.nanoTime()
        stack = stack.tail
        innermost = stack.headOption.map(_.id).getOrElse(Unattributed)
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def spans: Seq[Span] = spanList.toSeq

  def selfNs(s: Span): Long =
    SelfTime.selfNs(s.startNs, s.endNs,
      spanList.filter(_.parent == s.id).map(c => (c.startNs, c.endNs)).toSeq)

  /** All counters, unattributed events included. */
  def total: Counters = locked {
    val t = new Counters
    t.add(unattributed)
    spanList.foreach(s => t.add(s.counters))
    t
  }

  /** Wall time in [startMs, endMs] during which no job was running. */
  def noJobMs(startMs: Long, endMs: Long): Long = locked {
    (endMs - startMs) - SelfTime.covered(startMs, endMs, jobIntervals.toSeq)
  }

  /** Max over median task time in the stage with the longest wall time. */
  def taskSkew: Double = locked {
    if (stageWall.isEmpty) 0.0
    else {
      val longest = stageWall.maxBy(_._2)._1
      val ts = stageTasks.getOrElse(longest, mutable.ArrayBuffer[Long]()).sorted
      if (ts.isEmpty) 0.0
      else ts.last.toDouble / math.max(1L, ts((ts.size - 1) / 2)).toDouble
    }
  }

  /** The longest stages by wall time, with their span and task times
    * (where a skewed or serialized stage shows). */
  def stagesJson(top: Int): String = locked {
    stageWall.toSeq.sortBy(-_._2).take(top).map { case (id, wall) =>
      val ts = stageTasks.getOrElse(id, mutable.ArrayBuffer[Long]()).sorted
      val span = stageSpan.getOrElse(id, Unattributed)
      Json.obj("stage" -> id, "name" -> stageName.getOrElse(id, ""),
        "span" -> (if (span == Unattributed) "" else spanList(span).name),
        "wall_ms" -> wall, "tasks" -> ts.size,
        "task_max_ms" -> ts.lastOption.getOrElse(0L),
        "task_median_ms" -> (if (ts.isEmpty) 0L else ts((ts.size - 1) / 2)))
    }.mkString("[\n", ",\n", "\n]\n")
  }

  def close(): Unit = if (enabled) {
    settle()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def spansJson: String = spanList.map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "run" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_ns" -> selfNs(s), "counters" -> Json.Raw(s.counters.toJson))
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  val SpanKey = "perfbench.span"
  val Unattributed: Int = -1

  def off(spark: SparkSession): Tracer = new Tracer(spark, "off", false)
}

/** Minimal JSON writer for the report files. */
object Json {
  final case class Raw(s: String)

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => graft.util.Json.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case o => value(o.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => value(k) + ":" + value(v) }.mkString("{", ",", "}")
}
