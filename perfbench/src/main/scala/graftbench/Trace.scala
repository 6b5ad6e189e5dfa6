package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** The traced run's recorder: spans the benchmark wraps around its own
  * calls into each graft layer, plus what Spark itself reports through a
  * [[SparkListener]] (jobs, stages, task metrics) and a
  * [[StreamingQueryListener]] (micro-batch progress).
  *
  * Everything is held in memory and written once when the run ends. A
  * span's self time is its wall time minus the intervals of its child
  * spans; a Spark job belongs to the innermost span open when it started
  * (one client thread issues every call, so spans nest strictly).
  *
  * When `enabled` is false, `span` only runs its body and the listeners
  * drop their events, so untraced rounds pay one boolean check per call.
  */
final class Trace {
  @volatile var enabled: Boolean = false
  /** The run phase (setup, prepare, timed, check), stamped on progress. */
  @volatile var phase: String = "setup"

  final case class Span(id: Int, name: String, parent: Int, op: Long,
                        start: Long, var end: Long = -1L,
                        var childNs: Long = 0L) {
    def wallNs: Long = end - start
    def selfNs: Long = wallNs - childNs
  }
  final case class Job(id: Int, start: Long, var end: Long = -1L)
  final class TaskAgg {
    var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleReadB = 0L; var shuffleWriteB = 0L; var spillB = 0L
    var inputB = 0L; var outputB = 0L
  }
  final case class Progress(at: Long, phase: String, traced: Boolean,
                            batchId: Long, rows: Long,
                            durations: Map[String, Long])

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opCounter = 0L
  // listener-thread state, guarded by `this`
  private val jobs = ArrayBuffer.empty[Job]
  private val jobOfStage = collection.mutable.Map.empty[Int, Int]
  private val taskAggs = collection.mutable.Map.empty[Int, TaskAgg]
  private val stageCount = collection.mutable.Map.empty[Int, Int]
  val progress = ArrayBuffer.empty[Progress]

  /** Time `body` as a span named `name` (layer-qualified, e.g.
    * `ops.search.topk`). Nested spans record their parent.
    */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val parent = stack.headOption
    val op = parent.map(_.op).getOrElse { opCounter += 1; opCounter }
    val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), op,
      System.nanoTime())
    spans += s
    stack = s :: stack
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      parent.foreach(p => p.childNs += s.wallNs)
    }
  }

  /** Register both listeners on `spark` (call once per session build). */
  def attach(spark: SparkSession): Unit = {
    val t = this
    // listener timestamps are wall-clock millis; spans use nanoTime — map
    // through one offset taken now
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    def toNs(ms: Long) = ms * 1000000L + offsetNs
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (t.enabled)
        t.synchronized {
          jobs += Job(e.jobId, toNs(e.time))
          e.stageIds.foreach(s => jobOfStage(s) = e.jobId)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = t.synchronized {
        jobs.find(_.id == e.jobId).foreach(_.end = toNs(e.time))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        t.synchronized {
          jobOfStage.get(e.stageInfo.stageId).foreach(j =>
            stageCount(j) = stageCount.getOrElse(j, 0) + 1)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = t.synchronized {
        for (j <- jobOfStage.get(e.stageId); m <- Option(e.taskMetrics)) {
          val a = taskAggs.getOrElseUpdate(j, new TaskAgg)
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputB += m.inputMetrics.bytesRead
          a.outputB += m.outputMetrics.bytesWritten
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      // progress is kept in untraced rounds too: the end-to-end micro-batch
      // latency comes from it
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        t.synchronized {
          val p = e.progress
          progress += Progress(System.nanoTime(), t.phase, t.enabled,
            p.batchId, p.numInputRows,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        }
    })
  }
  /** Jobs (with their task aggregates) that started inside `s`. */
  def jobsIn(s: Span): Seq[(Job, TaskAgg, Int)] = synchronized {
    jobs.toSeq.filter(j => j.start >= s.start && j.start <= s.end)
      .map(j => (j, taskAggs.getOrElse(j.id, new TaskAgg),
        stageCount.getOrElse(j.id, 0)))
  }

  /** Union length of the job intervals inside `s`, clipped to it. */
  def jobUnionNs(s: Span): Long = {
    val iv = jobsIn(s).map(_._1)
      .map(j => (math.max(j.start, s.start),
        math.min(if (j.end < 0) s.end else j.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (a, b) =>
      if (a > curE) { total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    total + (curE - curS)
  }

  /** All spans as JSON lines: name, start/end (ms from the first span),
    * parent, operation id, wall and self ms.
    */
  def spansJson: Seq[String] = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    spans.toSeq.map(s => Json.obj(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6,
      "wall_ms" -> s.wallNs / 1e6, "self_ms" -> s.selfNs / 1e6))
  }
}
