package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A traced op: one query execution, or one streaming micro-batch. All
  * times are epoch milliseconds. `buildEnd` splits a batch query into
  * the library's build phase (inside `fn(spark, dir)`) and the timed
  * action; a micro-batch has no build phase (`buildEnd == start`). */
final case class Op(key: String, name: String, start: Double, buildEnd: Double,
    end: Double, batchId: Option[Long] = None)

/** A span at a layer boundary; `parent` is -1 for a root span. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    start: Double, end: Double)

/** Records Spark jobs, task metrics, planning phases and streaming
  * progress through Spark's public listener interfaces, for the
  * traced run only. Nothing here is attached during untraced runs. */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._
  private val sc = spark.sparkContext

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageAgg = mutable.HashMap.empty[Int, StageAgg]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private var events = 0L
  private var callbackNs = 0L

  private def timed(f: => Unit): Unit = {
    val t = System.nanoTime()
    synchronized { f; events += 1; callbackNs += System.nanoTime() - t }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val p = Option(e.properties)
      val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull
      val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map(_.toLong)
      val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, group, batch, name, e.stageIds, e.time.toDouble, Double.NaN)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuMs += m.executorCpuTime / 1e6
        a.gcMs += m.jvmGCTime
        a.taskMs += e.taskInfo.duration
        a.inBytes += m.inputMetrics.bytesRead
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = timed {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty) plans += Plan(ph.map(_.startTimeMs).min.toDouble,
        ph.map(_.endTimeMs).max.toDouble, ph.map(_.durationMs).sum.toDouble)
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed { progress += e.progress }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    settle()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until every started job has ended and no listener event has
    * arrived for 300 ms (listener buses deliver asynchronously). */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 15000
    var last = -1L
    var quietSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val (n, open) = synchronized((events, jobs.values.exists(_.end.isNaN)))
      if (n != last) { last = n; quietSince = System.currentTimeMillis() }
      if (!open && System.currentTimeMillis() - quietSince >= 300) return
      Thread.sleep(20)
    }
  }

  def callbackMs: Double = synchronized(callbackNs / 1e6)
  def progressEvents: Seq[StreamingQueryProgress] = synchronized(progress.toList)

  private val pinPrefixes = Seq("localCheckpoint", "checkpoint")
  private def isPin(j: Job): Boolean = pinPrefixes.exists(j.name.startsWith)

  /** Jobs of `op`: by the job group the harness set, by streaming batch
    * id, or (jobs from library-owned threads that carry neither) by
    * start time inside the op's window. */
  private def jobsOf(op: Op, claimed: mutable.Set[Int]): Seq[Job] = {
    val mine = jobs.values.filter { j =>
      !claimed.contains(j.id) && (
        (j.group != null && j.group == op.key) ||
        (op.batchId.isDefined && j.batchId == op.batchId) ||
        (j.group == null && j.batchId.isEmpty && j.start >= op.start && j.start <= op.end))
    }.toSeq
    mine.foreach(j => claimed += j.id)
    mine
  }

  /** Per-layer metrics over `ops`, the spans at each layer boundary,
    * and the self time each layer accounts for. `phases` gives an op's
    * child spans as (layer, name, start, end); each job and planning
    * span nests under the shortest phase that contains its start. */
  def summarize(ops: Seq[Op], rootLayer: String,
      phases: Op => Seq[(String, String, Double, Double)])
      : (Seq[(String, Double)], Seq[Span], Seq[(String, Double)]) = synchronized {
    val claimed = mutable.Set.empty[Int]
    val spans = mutable.ArrayBuffer.empty[Span]
    def span(parent: Int, layer: String, name: String, a: Double, b: Double): Int = {
      spans += Span(spans.size, parent, layer, name, a, b); spans.size - 1
    }
    var pinJobs, pinMs, bookJobs, buildMs, planMs, gapMs = 0.0
    var nJobs, nStages = 0.0
    val total = new StageAgg
    ops.foreach { op =>
      val root = span(-1, rootLayer, op.name, op.start, op.end)
      val frames = mutable.ArrayBuffer(root)
      def parentAt(t: Double): Int = frames.map(spans(_))
        .filter(f => f.start <= t && t < f.end)
        .sortBy(f => f.end - f.start).headOption.map(_.id).getOrElse(root)
      phases(op).foreach { case (layer, name, a, b) =>
        frames += span(parentAt(a), layer, name, a, b)
      }
      val js = jobsOf(op, claimed)
      js.foreach { j =>
        val end = if (j.end.isNaN) op.end else j.end
        val pin = isPin(j)
        span(parentAt(j.start), if (pin) "operators" else "engine",
          (if (pin) "pin: " else "job: ") + j.name, j.start, end)
        if (pin) { pinJobs += 1; pinMs += end - j.start }
        else if (j.start < op.buildEnd) bookJobs += 1
        j.stages.flatMap(stageAgg.get).foreach { a =>
          nStages += 1
          total.tasks += a.tasks; total.runMs += a.runMs; total.cpuMs += a.cpuMs
          total.gcMs += a.gcMs; total.taskMs += a.taskMs; total.inBytes += a.inBytes
          total.shRead += a.shRead; total.shWrite += a.shWrite
          total.fetchWaitMs += a.fetchWaitMs; total.spill += a.spill
        }
      }
      nJobs += js.size
      val ps = plans.filter(p => p.start >= op.start && p.start <= op.end)
      ps.foreach(p => span(parentAt(p.start), "engine", "planning", p.start, p.end))
      planMs += ps.map(_.ms).sum
      buildMs += op.buildEnd - op.start
      gapMs += (op.end - op.start) - Tracer.covered(js.map(j =>
        (j.start, if (j.end.isNaN) op.end else j.end)), op.start, op.end)
    }
    val n = math.max(1, ops.size).toDouble
    val wall = ops.map(o => o.end - o.start).sum
    val metrics = Seq(
      "operators.build_ms" -> buildMs / n,
      "operators.pin_jobs" -> pinJobs / n,
      "operators.pin_ms" -> pinMs / n,
      "operators.bookkeeping_jobs" -> bookJobs / n,
      "engine.planning_ms" -> planMs / n,
      "engine.driver_gap_ms" -> gapMs / n,
      "engine.jobs_per_op" -> nJobs / n,
      "engine.stages_per_op" -> nStages / n,
      "engine.tasks_per_op" -> total.tasks / n,
      "engine.task_overhead_ms" ->
        (if (total.tasks > 0) (total.taskMs - total.runMs) / total.tasks else 0.0),
      "engine.executor_cpu_ms" -> total.cpuMs / n,
      "engine.executor_run_ms" -> total.runMs / n,
      "engine.gc_ms" -> total.gcMs / n,
      "engine.core_busy_frac" -> (if (wall > 0) total.runMs / (wall * cores) else 0.0),
      "engine.input_bytes" -> total.inBytes / n,
      "engine.shuffle_read_bytes" -> total.shRead / n,
      "engine.shuffle_write_bytes" -> total.shWrite / n,
      "engine.shuffle_fetch_wait_ms" -> total.fetchWaitMs / n,
      "engine.spill_bytes" -> total.spill / n)
    (metrics, spans.toList, Tracer.selfTime(spans.toList))
  }
}

object Tracer {
  private final case class Job(id: Int, group: String, batchId: Option[Long],
      name: String, stages: Seq[Int], start: Double, var end: Double)
  private final class StageAgg {
    var tasks = 0L; var runMs = 0.0; var cpuMs = 0.0; var gcMs = 0.0
    var taskMs = 0.0; var inBytes = 0L; var shRead = 0L; var shWrite = 0L
    var fetchWaitMs = 0.0; var spill = 0L
  }
  private final case class Plan(start: Double, end: Double, ms: Double)

  /** Length of the union of `ivs`, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }

  /** Self time per layer: each span's duration minus the part of its
    * interval that its child spans cover. */
  def selfTime(spans: Seq[Span]): Seq[(String, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.layer -> math.max(0.0, (s.end - s.start) - covered(cs, s.start, s.end))
    }.groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum }.toSeq.sortBy(-_._2)
  }
}
