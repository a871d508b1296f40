package perfbench

import java.io.PrintWriter

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A harness span: run → pass → call → {construct, collect}, plus the
  * untimed `check` and `probe` spans. Times are epoch milliseconds with
  * sub-millisecond resolution, the clock Spark's own events use. */
final class Span(val id: Int, val kind: String, val name: String,
                 val parent: Option[Span], val layer: String, val start: Double) {
  var end: Double = Double.NaN
}

/** Spans and Spark events, kept in memory and written as JSONL at the
  * end of the run. Spans are always recorded (the pass and call walls
  * are the end-to-end measurement); only a traced run installs the
  * listener, labels jobs with a job group and writes the file. */
final class Trace(val traced: Boolean) {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  private val spans = ArrayBuffer[Span]()
  private val events = ArrayBuffer[String]()

  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def open(kind: String, name: String, parent: Option[Span], layer: String = ""): Span = {
    val s = new Span(spans.size, kind, name, parent, layer, nowMs)
    spans += s
    s
  }

  def close(s: Span): Unit = s.end = nowMs

  /** Jobs started on this thread while the group is set carry the span
    * id; threads a call creates inherit it. Jobs without it are
    * attributed by time window when the trace is analysed. */
  def beginJobs(spark: SparkSession, s: Span): Unit =
    if (traced) spark.sparkContext.setJobGroup(s"perfbench-${s.id}", s.name)

  def endJobs(spark: SparkSession): Unit =
    if (traced) spark.sparkContext.clearJobGroup()

  /** Runs `body` inside a new span that owns the jobs it starts. */
  def within[T](spark: SparkSession, kind: String, name: String, parent: Span,
                layer: String = "")(body: => T): T = {
    val s = open(kind, name, Some(parent), layer)
    beginJobs(spark, s)
    try body finally { endJobs(spark); close(s) }
  }

  private def event(fields: (String, Any)*): Unit = {
    val line = Json.obj(fields: _*).render
    events.synchronized(events += line)
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = event(
      "kind" -> "job", "job" -> e.jobId, "start_ms" -> e.time,
      "group" -> Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))),
      "stages" -> e.stageIds)

    override def onJobEnd(e: SparkListenerJobEnd): Unit = event(
      "kind" -> "job_end", "job" -> e.jobId, "end_ms" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      event("kind" -> "stage", "stage" -> i.stageId, "attempt" -> i.attemptNumber(),
        "submit_ms" -> i.submissionTime, "end_ms" -> i.completionTime,
        "tasks" -> i.numTasks)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      def metric(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
      event("kind" -> "task", "stage" -> e.stageId,
        "start_ms" -> e.taskInfo.launchTime, "end_ms" -> e.taskInfo.finishTime,
        "run_ms" -> metric(_.executorRunTime), "cpu_ns" -> metric(_.executorCpuTime),
        "gc_ms" -> metric(_.jvmGCTime),
        "shuffle_read_b" -> metric(t => t.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_b" -> metric(_.shuffleWriteMetrics.bytesWritten),
        "spill_b" -> metric(t => t.memoryBytesSpilled + t.diskBytesSpilled),
        "output_b" -> metric(_.outputMetrics.bytesWritten),
        "input_b" -> metric(_.inputMetrics.bytesRead))
    }
  }

  def write(path: String): Unit = {
    val w = new PrintWriter(path, "UTF-8")
    try {
      for (s <- spans) w.println(Json.obj("kind" -> s.kind, "id" -> s.id,
        "parent" -> s.parent.map(_.id), "name" -> s.name, "layer" -> s.layer,
        "start_ms" -> s.start, "end_ms" -> s.end).render)
      events.synchronized(events.foreach(w.println))
    } finally w.close()
  }
}
