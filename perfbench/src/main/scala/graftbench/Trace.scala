package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span and counter recorder for the traced run.
  *
  * The harness opens op and phase spans around its calls into the
  * engine; the listeners add one span per Spark job (parented to the
  * phase whose job group launched it) and one per stage (parented to
  * its job), with the stage's task metrics as counters. Catalyst phase
  * times come from each executed plan's `QueryPlanningTracker`.
  * Everything stays in memory until [[json]] is written at exit.
  */
final class Trace {
  private val spans = mutable.ArrayBuffer.empty[String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTaskMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val plans = mutable.ArrayBuffer.empty[String]
  @volatile var enabled = false

  def span(id: String, kind: String, name: String, parent: String,
      startMs: Long, endMs: Long, extra: String = ""): Unit =
    if (enabled) synchronized {
      spans += s"""{"id":${Json.str(id)},"kind":"$kind","name":${Json.str(name)},""" +
        s""""parent":${Json.str(parent)},"start":$startMs,"end":$endMs$extra}"""
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val batch = Option(e.properties).flatMap(p =>
        Option(p.getProperty("streaming.sql.batchId")))
      // Micro-batch jobs run under the stream's own group; the batch id
      // names the op span the harness recorded for that batch.
      jobGroup(e.jobId) = batch.map(b => s"batch:$group:$b").getOrElse(group)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      val parent = jobGroup.getOrElse(e.jobId, "")
      span(s"job:${e.jobId}", "job", s"job ${e.jobId}", parent,
        jobStart.getOrElse(e.jobId, e.time), e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      if (e.taskInfo != null) stageTaskMs(e.stageId) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        val extra =
          if (m == null) s""","tasks":${i.numTasks}"""
          else {
            val sr = m.shuffleReadMetrics
            s""","tasks":${i.numTasks},"task_ms":${stageTaskMs(i.stageId)},""" +
              s""""run_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},""" +
              s""""deser_ms":${m.executorDeserializeTime},"gc_ms":${m.jvmGCTime},""" +
              s""""shuffle_w":${m.shuffleWriteMetrics.bytesWritten},""" +
              s""""shuffle_r":${sr.localBytesRead + sr.remoteBytesRead},""" +
              s""""spill":${m.diskBytesSpilled + m.memoryBytesSpilled},""" +
              s""""in_bytes":${m.inputMetrics.bytesRead},""" +
              s""""in_rows":${m.inputMetrics.recordsRead}"""
          }
        val start = i.submissionTime.getOrElse(0L)
        span(s"stage:${i.stageId}.${i.attemptNumber()}", "stage",
          s"stage ${i.stageId}", stageJob.get(i.stageId).map(j => s"job:$j").getOrElse(""),
          start, i.completionTime.getOrElse(start), extra)
      }
  }
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (enabled) Trace.this.synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).reduceOption(_ min _).getOrElse(0L)
      plans += s"""{"start":$start,"analysis_ms":${ms("analysis")},""" +
        s""""optimization_ms":${ms("optimization")},"planning_ms":${ms("planning")}}"""
    }
  }

  def json: String = synchronized {
    s"""{"spans":${spans.mkString("[", ",\n", "]")},"plans":${plans.mkString("[", ",", "]")}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
