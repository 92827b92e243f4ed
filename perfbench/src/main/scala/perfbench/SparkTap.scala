package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the Spark runtime did inside one timed operation. */
final case class OpStats(
    name: String, wallMs: Double, jobs: Int, jobMs: Double, gapMs: Double,
    planMs: Double, taskCpuMs: Double, gcMs: Double,
    shuffleRead: Long, shuffleWrite: Long, bytesRead: Long, bytesWritten: Long,
    rough: Long, precise: Long, labelledMs: Map[String, Double])

/** Counts from the three listener kinds the benchmark registers:
  * `SparkListener` (jobs and stage task metrics), `QueryExecutionListener`
  * (Catalyst phase times and the plan's observed metrics) and
  * `StreamingQueryListener` (micro-batch durations). Events are kept in
  * memory and attributed to the benchmark's timed operations by time.
  */
final class SparkTap(spark: SparkSession) {
  private final case class Job(id: Int, desc: String, startMs: Long, stages: Seq[Int],
                               var endMs: Long = 0L)
  private final case class Stage(cpuNs: Long, gcMs: Long, shRead: Long, shWrite: Long,
                                 read: Long, written: Long)
  private final case class Qe(startMs: Long, planMs: Double, rough: Long, precise: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val qes = new ConcurrentLinkedQueue[Qe]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs.put(e.jobId, Job(e.jobId, desc, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val m = e.stageInfo.taskMetrics
      if (m != null)
        stages.put(e.stageInfo.stageId, Stage(m.executorCpuTime, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
      def sum(prefix: String): Long = qe.observedMetrics.collect {
        case (n, r) if n.startsWith(prefix) => r.getLong(0)
      }.sum
      qes.add(Qe(start, phases.values.map(_.durationMs).sum.toDouble,
        sum("rabitq_rough"), sum("rabitq_precise")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Deliver every posted event before the counts are read. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext, 10000L)

  /** Spark work inside [startMs, endMs) of one timed operation. Jobs are
    * attributed by start time; only one job-launching operation runs at a
    * time in every workload (HTTP queries on the hot tier launch none).
    */
  def opStats(name: String, startMs: Double, endMs: Double): OpStats = {
    val js = jobs.values.asScala.toSeq.filter(j => j.startMs >= startMs && j.startMs < endMs)
    val iv = js.map(j => (j.startMs, if (j.endMs > 0) j.endMs else j.startMs))
    val jobMs = Tracer.unionNs(iv).toDouble
    val st = js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
    val qs = qes.asScala.toSeq.filter(q => q.startMs >= startMs && q.startMs < endMs)
    val byLabel = js.groupBy(_.desc).map { case (d, g) =>
      d -> Tracer.unionNs(g.map(j => (j.startMs, if (j.endMs > 0) j.endMs else j.startMs))).toDouble
    }
    OpStats(name, endMs - startMs, js.size, jobMs, math.max(0.0, endMs - startMs - jobMs),
      qs.map(_.planMs).sum, st.map(_.cpuNs).sum / 1e6, st.map(_.gcMs).sum.toDouble,
      st.map(_.shRead).sum, st.map(_.shWrite).sum, st.map(_.read).sum, st.map(_.written).sum,
      qs.map(_.rough).sum, qs.map(_.precise).sum, byLabel)
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}
