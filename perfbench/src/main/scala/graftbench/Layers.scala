package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Cumulative engine-layer counters, fed from Spark's listener bus. The
  * harness reads them from outside the engine: nothing in the program under
  * test knows it is being counted. Every field only grows; a span's share is
  * the difference of two snapshots taken after draining the bus. */
final class LayerListener extends SparkListener {
  private val raw = Array.fill(LayerListener.Fields.size)(0L)
  private val stageSubmit = scala.collection.mutable.Map.empty[(Int, Int), Long]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  /** (start, end) wall-clock ms of every finished job, in finish order. */
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]

  private def add(field: String, v: Long): Unit =
    raw(LayerListener.Fields.indexOf(field)) += v

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => synchronized(add("executions", 1))
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = synchronized {
    add("jobs", 1)
    jobStart(js.jobId) = js.time
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(je.jobId).foreach(t0 => jobIntervals += ((t0, je.time)))
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = synchronized {
    val i = s.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    add("stages", 1)
    stageSubmit.remove((s.stageInfo.stageId, s.stageInfo.attemptNumber()))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    add("tasks", 1)
    stageSubmit.get((t.stageId, t.stageAttemptId)).foreach { sub =>
      add("task_wait_ms", math.max(0L, t.taskInfo.launchTime - sub))
    }
    val m = t.taskMetrics
    if (m != null) {
      add("cpu_ns", m.executorCpuTime)
      add("run_ms", m.executorRunTime)
      add("shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_b", m.shuffleReadMetrics.totalBytesRead)
      add("spill_b", m.diskBytesSpilled)
      add("input_b", m.inputMetrics.bytesRead)
      add("output_b", m.outputMetrics.bytesWritten)
    }
  }

  def snapshot(): (Array[Long], Int) = synchronized((raw.clone(), jobIntervals.size))
}

object LayerListener {
  val Fields: IndexedSeq[String] = IndexedSeq("executions", "jobs", "stages",
    "tasks", "cpu_ns", "run_ms", "shuffle_write_b", "shuffle_read_b",
    "spill_b", "input_b", "output_b", "task_wait_ms")

  /** Names of the per-span engine metrics, in report order. */
  val Metrics: Seq[String] = Seq("executions", "jobs", "stages", "tasks",
    "driver_only_s", "executor_cpu_s", "executor_run_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "input_mb", "output_mb", "task_wait_s",
    "slot_util", "gc_s")
}

/** One timed call. `start`/`end` are ms since the run began; `parent` is
  * -1 for a top-level span. `engine` holds the listener counts of the span
  * (traced runs only) and `timers` the engine's own StageTimers recorded
  * inside it and not by a nested span. */
final case class Span(id: Int, parent: Int, name: String, start: Double,
    end: Double, ok: Boolean, engine: Map[String, Double],
    timers: Map[String, Double]) {
  def seconds: Double = (end - start) / 1000.0
}

/** Nested wall-clock spans around calls into the program. With tracing on,
  * every span also carries the engine counters that moved inside it. */
final class Tracer(sc: SparkContext, val traced: Boolean, cores: Int) {
  private val listener = new LayerListener
  if (traced) sc.addSparkListener(listener)
  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis()
  private var stack = List.empty[Int]
  private var nextId = 0
  val spans = ArrayBuffer.empty[Span]

  def nowMs: Double = (System.nanoTime() - t0Nanos) / 1e6

  def span[T](name: String)(body: => T): T = runSpan(name)(body)._1

  /** Run `body` as a span and return its result with the finished span. */
  def runSpan[T](name: String)(body: => T): (T, Span) = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    if (traced) org.apache.spark.graftbench.Bus.drain(sc)
    val (before, jobIdx) = if (traced) listener.snapshot() else (null, 0)
    val gc0 = Tracer.gcMillis()
    val start = nowMs
    var ok = false
    var result: Option[T] = None
    try {
      result = Some(body)
      ok = true
    } finally {
      val end = nowMs
      val engine =
        if (traced) {
          org.apache.spark.graftbench.Bus.drain(sc)
          val (after, _) = listener.snapshot()
          derive(before, after, jobIdx, start, end, Tracer.gcMillis() - gc0)
        } else Map.empty[String, Double]
      val timers = graft.bench.StageTimers.drain()
      stack = stack.tail
      spans += Span(id, parent, name, start, end, ok, engine, timers)
    }
    (result.get, spans.last)
  }

  private def derive(before: Array[Long], after: Array[Long], jobIdx: Int,
      start: Double, end: Double, gcMs: Long): Map[String, Double] = {
    def d(f: String): Double = {
      val i = LayerListener.Fields.indexOf(f)
      (after(i) - before(i)).toDouble
    }
    val wallS = (end - start) / 1000.0
    val lo = t0Millis + start
    val hi = t0Millis + end
    // union of the span's job intervals, clipped to the span
    val ivs = listener.synchronized(listener.jobIntervals.drop(jobIdx).toSeq)
      .map { case (a, b) => (math.max(a.toDouble, lo), math.min(b.toDouble, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    ivs.foreach { case (a, b) =>
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) covered += curB - curA
    val runS = d("run_ms") / 1000.0
    Map(
      "executions" -> d("executions"), "jobs" -> d("jobs"),
      "stages" -> d("stages"), "tasks" -> d("tasks"),
      "driver_only_s" -> math.max(0.0, wallS - covered / 1000.0),
      "executor_cpu_s" -> d("cpu_ns") / 1e9, "executor_run_s" -> runS,
      "shuffle_write_mb" -> d("shuffle_write_b") / 1e6,
      "shuffle_read_mb" -> d("shuffle_read_b") / 1e6,
      "spill_mb" -> d("spill_b") / 1e6, "input_mb" -> d("input_b") / 1e6,
      "output_mb" -> d("output_b") / 1e6,
      "task_wait_s" -> d("task_wait_ms") / 1000.0,
      "slot_util" -> (if (wallS > 0) runS / (wallS * cores) else 0.0),
      "gc_s" -> gcMs / 1000.0)
  }
}

object Tracer {
  def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}
