package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of a run: the benchmark's own spans (workload, query or
  * micro-batch, call) plus what Spark's public listener buses report (jobs,
  * stages, tasks, query planning, streaming progress). Written out once,
  * when the run ends; `run.py` derives self times and per-layer counters
  * from it.
  *
  * Jobs find their parent span through the job group the benchmark sets
  * before each call (`bench:<span id>`), or, for streaming, through the
  * micro-batch id Spark puts in the job's local properties.
  */
object Trace {

  final case class Span(id: Int, parent: Int, name: String, kind: String,
                        start: Double, end: Double, attrs: Map[String, Any])

  private val spans = mutable.ArrayBuffer[Span]()
  private val extra = mutable.LinkedHashMap[String, Any]()
  private var lastId = 0

  def newId(): Int = synchronized { lastId += 1; lastId }

  def add(s: Span): Unit = synchronized { spans += s }

  /** Record `body` as span `id`. */
  def span[T](id: Int, parent: Int, name: String, kind: String,
              attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val t0 = Main.nowMs()
    try body finally add(Span(id, parent, name, kind, t0, Main.nowMs(), attrs))
  }

  def put(key: String, v: Any): Unit = synchronized { extra(key) = v }

  def dump(): Map[String, Any] = synchronized {
    Map("spans" -> spans.map(s => Map(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
      "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs)).toList) ++
      Collector.dump() ++ extra ++
      Map("planning" -> Planning.dump(), "progress" -> Progress.dump())
  }

  /** The Spark and SQL listeners, attached only while tracing. */
  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(Collector)
    spark.listenerManager.register(Planning)
    spark.streams.addListener(Progress)
  }

  /** Listener buses deliver asynchronously: give them a moment to drain
    * before the listeners come off. */
  def detach(spark: SparkSession): Unit = {
    val deadline = System.nanoTime() + 3000000000L
    while (Collector.running > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(300)
    spark.sparkContext.removeSparkListener(Collector)
    spark.listenerManager.unregister(Planning)
    spark.streams.removeListener(Progress)
  }

  /** Jobs, stages and tasks from the scheduler's listener bus. */
  object Collector extends SparkListener {
    private final case class Job(id: Int, group: String, batchId: String,
                                 start: Long, stages: Seq[Int]) {
      var end: Long = -1L
      var ok: Boolean = false
    }
    private val jobs = mutable.LinkedHashMap[Int, Job]()
    private val stages = mutable.ArrayBuffer[Map[String, Any]]()
    private val taskMs = mutable.HashMap[(Int, Int), mutable.ArrayBuffer[Long]]()
    private val taskFailures = mutable.HashMap[(Int, Int), Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id"),
        prop("streaming.sql.batchId"), e.time, e.stageIds)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j => j.end = e.time; j.ok = e.jobResult == JobSucceeded }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val k = (e.stageId, e.stageAttemptId)
      if (e.taskInfo != null) {
        taskMs.getOrElseUpdate(k, mutable.ArrayBuffer[Long]()) += e.taskInfo.duration
        if (e.taskInfo.failed) taskFailures(k) = taskFailures.getOrElse(k, 0) + 1
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      val k = (i.stageId, i.attemptNumber())
      stages += Map(
        "id" -> i.stageId, "attempt" -> i.attemptNumber(), "name" -> i.name,
        "submitted" -> i.submissionTime.getOrElse(-1L),
        "completed" -> i.completionTime.getOrElse(-1L),
        "tasks" -> i.numTasks, "failed" -> i.failureReason.isDefined,
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ms" -> (if (m == null) 0.0 else m.executorCpuTime / 1e6),
        "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "shuffle_records" -> (if (m == null) 0L else m.shuffleWriteMetrics.recordsWritten),
        "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
        "task_ms" -> taskMs.remove(k).map(_.toList).getOrElse(Nil),
        "task_failures" -> taskFailures.remove(k).getOrElse(0))
    }

    def running: Int = synchronized(jobs.values.count(_.end < 0))

    def dump(): Map[String, Any] = synchronized {
      Map(
        "jobs" -> jobs.values.map(j => Map(
          "id" -> j.id, "group" -> j.group, "batch_id" -> j.batchId,
          "start" -> j.start, "end" -> j.end, "ok" -> j.ok, "stages" -> j.stages)).toList,
        "stages" -> stages.toList)
    }
  }

  /** Analysis + optimization + planning time of every Dataset action, from
    * `QueryExecution.tracker`, stamped with when planning began. */
  object Planning extends QueryExecutionListener {
    private val recs = mutable.ArrayBuffer[Map[String, Any]]()

    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning").flatMap(ph.get)
      if (planning.nonEmpty) synchronized {
        recs += Map("start" -> planning.map(_.startTimeMs).min,
                    "ms" -> planning.map(_.durationMs).sum)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)

    def dump(): List[Map[String, Any]] = synchronized(recs.toList)
  }

  /** Streaming progress events, kept as Spark's own JSON. */
  object Progress extends StreamingQueryListener {
    private val events = mutable.ArrayBuffer[String]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { events += e.progress.json }
    def dump(): List[String] = synchronized(events.toList)
  }
}
