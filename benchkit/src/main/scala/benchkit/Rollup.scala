package benchkit

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job Spark counters, summed over the job's stages and tasks. */
final case class JobStats(
    id: Int,
    group: String,
    span: String,
    startMs: Long,
    var endMs: Long = -1,
    var stages: Int = 0,
    var tasks: Long = 0,
    var cpuNs: Long = 0,
    var runMs: Long = 0,
    var gcMs: Long = 0,
    var shuffleReadB: Long = 0,
    var shuffleWriteB: Long = 0,
    var spillB: Long = 0,
    var skew: Double = 0.0)

/** Totals over a set of jobs. */
final case class Counts(
    jobs: Int, stages: Int, tasks: Long, cpuS: Double, runS: Double, gcS: Double,
    shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double, skewMax: Double)

object Counts {
  def of(js: Iterable[JobStats]): Counts = Counts(
    js.size, js.map(_.stages).sum, js.map(_.tasks).sum, js.map(_.cpuNs).sum / 1e9,
    js.map(_.runMs).sum / 1e3, js.map(_.gcMs).sum / 1e3,
    js.map(_.shuffleReadB).sum / 1048576.0, js.map(_.shuffleWriteB).sum / 1048576.0,
    js.map(_.spillB).sum / 1048576.0, if (js.isEmpty) 0.0 else js.map(_.skew).max)
}

/** Spark work observed from outside through the public listener APIs:
  * a `SparkListener` for jobs/stages/tasks, a `QueryExecutionListener`
  * for DataFrame actions and a `StreamingQueryListener` for
  * micro-batch progress. Jobs are tagged with the job group and with
  * the `benchkit.span` local property the tracer sets, so the tracer
  * can attribute work to the span that was open when the job started.
  */
final class Rollup(spark: SparkSession) {
  private val sc       = spark.sparkContext
  private val jobs     = new ConcurrentHashMap[Int, JobStats]()
  private val stageJob = new ConcurrentHashMap[Int, JobStats]()
  private val stageTaskMs = new ConcurrentHashMap[Int, java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]]()
  private val maxJobId = new AtomicLong(-1)
  val sqlActions = new AtomicLong
  /** (name, durationMs map) per streaming progress event. */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(String, Map[String, Long])]()

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      def prop(k: String) = Option(if (p == null) null else p.getProperty(k)).getOrElse("")
      val js = JobStats(e.jobId, prop("spark.jobGroup.id"), prop("benchkit.span"), e.time)
      e.stageIds.foreach(s => stageJob.put(s, js))
      jobs.put(e.jobId, js)
      maxJobId.accumulateAndGet(e.jobId.toLong, math.max)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val js = stageJob.get(e.stageId)
      val m  = e.taskMetrics
      if (js != null && m != null) js.synchronized {
        js.tasks += 1
        js.cpuNs += m.executorCpuTime
        js.runMs += m.executorRunTime
        js.gcMs += m.jvmGCTime
        js.shuffleReadB += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        js.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        js.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      }
      if (e.taskInfo != null)
        stageTaskMs.computeIfAbsent(e.stageId, _ => new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]())
          .add(e.taskInfo.duration)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      val js = stageJob.get(id)
      val ts = Option(stageTaskMs.remove(id)).map(_.asScala.map(_.longValue).toArray.sorted).getOrElse(Array.empty[Long])
      if (js != null) js.synchronized {
        js.stages += 1
        if (ts.length > 1) {
          val med = math.max(1L, ts(ts.length / 2))
          js.skew = math.max(js.skew, ts.last.toDouble / med)
        } else if (ts.length == 1) js.skew = math.max(js.skew, 1.0)
      }
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = { sqlActions.incrementAndGet(); () }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = { sqlActions.incrementAndGet(); () }
  })

  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((Option(e.progress.name).getOrElse(""),
        e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  })

  /** Block until the listener has seen the end of every job the status
    * tracker knows about (listener events arrive asynchronously). Uses
    * only `SparkStatusTracker`: no job is active, the tracker knows no
    * job id beyond the last one the listener saw start, every job the
    * listener saw has ended, and every job the tracker lists for the
    * groups seen (and for no group) has ended in the listener.
    */
  def settle(timeoutMs: Long = 20000): Unit = {
    val st       = sc.statusTracker
    val deadline = System.currentTimeMillis() + timeoutMs
    def ok: Boolean = {
      val seen   = jobs.values.asScala.toSeq
      val groups = (seen.map(_.group).filter(_.nonEmpty).distinct.map(g => g: String) :+ (null: String))
      st.getActiveJobIds.isEmpty &&
      st.getJobInfo((maxJobId.get + 1).toInt).isEmpty &&
      seen.forall(_.endMs >= 0) &&
      groups.forall(g => st.getJobIdsForGroup(g).forall(id => Option(jobs.get(id)).exists(_.endMs >= 0)))
    }
    var stable = 0
    while (stable < 2 && System.currentTimeMillis() < deadline) {
      if (ok) stable += 1 else stable = 0
      Thread.sleep(15)
    }
  }

  def lastJobId: Long = maxJobId.get

  /** Jobs with id > `after` (call [[settle]] first). */
  def jobsAfter(after: Long): Seq[JobStats] =
    jobs.values.asScala.filter(_.id > after).toSeq.sortBy(_.id)

  /** Milliseconds of [t0, t1] during which no job was running. */
  def idleMs(js: Seq[JobStats], t0: Long, t1: Long): Long = {
    val iv = js.map(j => (math.max(t0, j.startMs), math.min(t1, if (j.endMs < 0) t1 else j.endMs)))
      .filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    (t1 - t0) - covered
  }
}
