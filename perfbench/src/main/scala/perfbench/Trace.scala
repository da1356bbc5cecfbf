package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Epoch milliseconds with sub-millisecond resolution, on the same clock
  * Spark stamps its scheduler and planner events with.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

object Jvm {
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Heap in use right after a full collection (the live set), in MB.
    * Spark's ContextCleaner drops shuffle and broadcast state only after a
    * collection finds it unreachable, and a stopped session's threads let
    * go of their state a while after `stop`. So collect and pause at least
    * four times, until two readings agree, and take the smallest reading.
    */
  def liveHeapMb(): Double = {
    def reading(): Double = {
      System.gc()
      Thread.sleep(100)
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    val rs = ArrayBuffer(reading(), reading(), reading(), reading())
    while (math.abs(rs.last - rs(rs.size - 2)) > 0.25 && rs.size < 10) rs += reading()
    rs.min
  }
}

/** One timed interval. `depth` orders the tree: op 0, harness-recorded
  * calls 1-2, planner phases and streaming batches 3-4, jobs 5, stages 6.
  */
final case class Span(layer: String, name: String, start: Double, end: Double, depth: Int) {
  def ms: Double = end - start
}

final class StageStats {
  var numTasks = 0
  var runMs = 0.0
  var cpuMs = 0.0
  var schedDelayMs = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0.0
  var spill = 0L
  var inBytes = 0L
  var inRecords = 0L
  var outBytes = 0L
  var outRecords = 0L
  val taskRun = ArrayBuffer[Double]()
  def skew: Double =
    if (taskRun.size < 2) 1.0
    else {
      val s = taskRun.sorted
      s.last / math.max(s(s.size / 2), 1.0)
    }
}

/** The traced op: its spans, plus counts taken at the same boundaries. */
final case class OpRecord(kind: String, name: String, spans: Seq[Span],
                          counts: Map[String, Double]) {
  def wallMs: Double = spans.head.ms

  /** Self time per layer: each instant of the op goes to the deepest span
    * open at that instant (the earliest-started one among equals), so the
    * layers' self times add up to the op's wall time.
    */
  def selfMs: Map[String, Double] = {
    val root = spans.head
    val clipped = spans.map(s => s.copy(start = s.start.max(root.start), end = s.end.min(root.end)))
      .filter(s => s.end > s.start)
    val cuts = clipped.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        val open = clipped.filter(s => s.start <= a && s.end >= b)
        if (open.nonEmpty) {
          val top = open.maxBy(s => (s.depth, -s.start))
          out(top.layer) += b - a
        }
      case _ => ()
    }
    out.toMap
  }
}

/** Records spans around the benchmark's calls into the program and takes
  * Spark's own events from a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener that it registers. Everything stays in memory
  * until the run writes its detail file.
  *
  * With tracing off no listener is registered and ops are only timed: that
  * is the untraced mode the end-to-end metrics are measured in. A traced
  * run switches `on` off for single ops to measure tracing overhead; that
  * removes the listeners too.
  */
final class Tracer(spark: SparkSession, val cores: Int, listen: Boolean) {

  private val jobs = mutable.Map[Int, (Double, Double, Seq[Int])]()
  private val stageSpans = mutable.Map[Int, (Double, Double)]()
  private val stages = mutable.Map[Int, StageStats]()
  private val phases = ArrayBuffer[Span]()
  private val batches = ArrayBuffer[(Double, Map[String, Long], Long)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = (e.time.toDouble, Double.NaN, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach { case (s, _, st) => jobs(e.jobId) = (s, e.time.toDouble, st) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stageSpans(i.stageId) = (s.toDouble, c.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val st = stages.getOrElseUpdate(e.stageId, new StageStats)
        val info = e.taskInfo
        st.numTasks += 1
        st.runMs += m.executorRunTime
        st.taskRun += m.executorRunTime.toDouble
        st.cpuMs += m.executorCpuTime / 1e6
        st.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
        st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inBytes += m.inputMetrics.bytesRead
        st.inRecords += m.inputMetrics.recordsRead
        st.outBytes += m.outputMetrics.bytesWritten
        st.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = Tracer.this.synchronized {
      for ((phase, p) <- qe.tracker.phases if phase != "parsing")
        phases += Span("plans." + phase, phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble, 4)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        if (d.contains("addBatch"))
          batches += ((java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d, p.numInputRows))
      }
  }

  private var listening = false

  def on: Boolean = listening

  /** Register the three listeners, or drain the bus and remove them. */
  def on_=(b: Boolean): Unit = if (b != listening) {
    if (b) {
      spark.sparkContext.addSparkListener(sparkListener)
      spark.listenerManager.register(qeListener)
      spark.streams.addListener(streamListener)
    } else {
      BenchBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(qeListener)
      spark.streams.removeListener(streamListener)
    }
    listening = b
  }

  on = listen

  def close(): Unit = on = false

  private val recorded = ArrayBuffer[Span]()
  private val extra = mutable.Map[String, Double]()
  private var depth = 0

  /** Add to a count of the current op; `v` is only evaluated when tracing. */
  def count(k: String, v: => Double): Unit = if (on) extra(k) = extra.getOrElse(k, 0.0) + v

  /** Time `body` as a span of `layer`, nested under the span now open. */
  def span[T](layer: String, name: String)(body: => T): T = if (!on) body else {
    depth += 1
    val d = depth
    val t0 = Clock.nowMs()
    try body
    finally {
      recorded += Span(layer, name, t0, Clock.nowMs(), d)
      depth -= 1
    }
  }

  private def clear(): Unit = synchronized {
    jobs.clear(); stageSpans.clear(); stages.clear(); phases.clear(); batches.clear()
  }

  /** Run one op and return its record. Events still in the listener bus
    * are drained after the op's end is stamped, so draining is not billed
    * to the op.
    */
  def op[T](kind: String, name: String)(body: => T): (T, OpRecord) = if (!on) {
    val t0 = Clock.nowMs()
    val out = body
    val t1 = Clock.nowMs()
    (out, OpRecord(kind, name, Seq(Span("harness", name, t0, t1, 0)), Map("wall_ms" -> (t1 - t0))))
  } else {
    BenchBus.drain(spark.sparkContext)
    clear()
    recorded.clear()
    extra.clear()
    depth = 0
    val gc0 = Jvm.gcMs()
    val t0 = Clock.nowMs()
    val out = body
    val t1 = Clock.nowMs()
    val gc = Jvm.gcMs() - gc0
    BenchBus.drain(spark.sparkContext)
    (out, synchronized(build(kind, name, t0, t1, gc)))
  }

  private def within(t: Double, s: Span) = t >= s.start - 1.0 && t <= s.end + 1.0

  private def build(kind: String, name: String, t0: Double, t1: Double, gcMs: Long): OpRecord = {
    val root = Span("harness", name, t0, t1, 0)
    val batchSpans = batches.flatMap { case (ts, d, _) =>
      val trig = Span("streaming", "batch", ts, ts + d.getOrElse("triggerExecution", 0L), 3)
      var at = ts
      val parts = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch",
        "commitOffsets").flatMap { k =>
        d.get(k).map { v =>
          val s = Span("streaming." + k, k, at, at + v, 4)
          at += v
          s
        }
      }
      trig +: parts
    }
    val jobSpans = jobs.toSeq.sortBy(_._1).map { case (id, (s, e, _)) =>
      Span("exec.job", s"job$id", s, if (e.isNaN) t1 else e, 5)
    }
    val stSpans = stageSpans.toSeq.sortBy(_._1).map { case (id, (s, e)) =>
      Span("exec.stage", s"stage$id", s, e, 6)
    }
    val spans = (root +: recorded.toSeq) ++ phases ++ batchSpans ++ jobSpans ++ stSpans
    val construct = recorded.filter(_.name == "construct")
    val action = recorded.filter(_.name == "action")
    val actionMs = action.map(_.ms).sum
    val all = stages.values.toSeq
    val actionJobs = jobs.values.filter(j => action.exists(a => within(j._1, a)))
    val actionRun = actionJobs.toSeq.flatMap(_._3).distinct.flatMap(stages.get(_)).map(_.runMs).sum
    def phase(p: String) = phases.filter(_.layer == "plans." + p).map(_.ms).sum
    val counts = Map(
      "wall_ms" -> (t1 - t0),
      "construct_ms" -> construct.map(_.ms).sum,
      "action_ms" -> actionMs,
      "analysis_ms" -> phase("analysis"),
      "optimization_ms" -> phase("optimization"),
      "planning_ms" -> phase("planning"),
      "jobs" -> jobs.size.toDouble,
      "construct_jobs" -> jobs.values.count(j => construct.exists(c => within(j._1, c))).toDouble,
      "stages" -> stageSpans.size.toDouble,
      "tasks" -> all.map(_.numTasks).sum.toDouble,
      "task_run_ms" -> all.map(_.runMs).sum,
      "task_cpu_ms" -> all.map(_.cpuMs).sum,
      "scheduler_delay_ms" -> all.map(_.schedDelayMs).sum,
      "idle_core_ms" -> math.max(0.0, cores * actionMs - actionRun),
      "shuffle_write_bytes" -> all.map(_.shuffleWrite).sum.toDouble,
      "shuffle_read_bytes" -> all.map(_.shuffleRead).sum.toDouble,
      "fetch_wait_ms" -> all.map(_.fetchWaitMs).sum,
      "spill_bytes" -> all.map(_.spill).sum.toDouble,
      "task_skew" -> (if (all.isEmpty) 1.0 else all.map(_.skew).max),
      "input_bytes" -> all.map(_.inBytes).sum.toDouble,
      "input_records" -> all.map(_.inRecords).sum.toDouble,
      "output_bytes" -> all.map(_.outBytes).sum.toDouble,
      "output_records" -> all.map(_.outRecords).sum.toDouble,
      "gc_ms" -> gcMs.toDouble,
      "batches" -> batches.size.toDouble,
      "batch_rows" -> batches.map(_._3).sum.toDouble,
      "jobs_in_kg_call" -> jobs.values.count(j =>
        recorded.exists(s => s.name == "KgPipeline.kg" && within(j._1, s))).toDouble) ++
      Seq("addBatch", "walCommit", "queryPlanning", "latestOffset").map { k =>
        ("stream_" + k + "_ms") -> batches.map(_._2.getOrElse(k, 0L)).sum.toDouble
      } ++ extra
    OpRecord(kind, name, spans.toSeq, counts)
  }
}
