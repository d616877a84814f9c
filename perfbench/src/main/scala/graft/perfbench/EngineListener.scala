package graft.perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark's own job, stage and task metrics, attributed to the job group
  * the benchmark set around each of its calls. Attached only in the traced
  * run.
  */
final class EngineListener extends SparkListener {
  import EngineListener._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val ids = e.stageInfos.map(_.stageId)
    ids.foreach(s => stageJob(s) = e.jobId)
    jobs(e.jobId) = Job(e.jobId, group, e.time, -1L, ids)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = Stage(i.stageId,
      i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    // every attempt counts, failed ones too, with zeros where Spark sent
    // no metrics
    val ok = e.taskInfo != null && e.taskInfo.successful
    val m = e.taskMetrics
    tasks += (if (m == null) Task(e.stageId, ok, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
      else Task(e.stageId, ok, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  private def tasksOf(keep: String => Boolean): Seq[Task] = {
    val jobIds = jobs.values.filter(j => keep(j.group)).map(_.id).toSet
    tasks.filter(t => stageJob.get(t.stageId).exists(jobIds)).toSeq
  }

  /** Task attempts over successful attempts in the stages, of the jobs
    * whose group satisfies `keep`, that both read input and wrote output:
    * in the extract job, the scan → parse → write stages. 1 when no
    * attempt failed or ran twice.
    */
  def attemptsPerSuccess(keep: String => Boolean): Double = synchronized {
    val ts = tasksOf(keep).groupBy(_.stageId).values
      .filter(st => st.exists(t => t.inBytes > 0 && t.outBytes > 0)).flatten
    ts.size.toDouble / math.max(ts.count(_.ok), 1)
  }

  /** Totals over the jobs whose group satisfies `keep`. */
  def totals(keep: String => Boolean): EngineTotals = synchronized {
    val js = jobs.values.filter(j => keep(j.group)).toSeq
    val ts = tasksOf(keep)
    val mb = 1024.0 * 1024.0
    // skew of the stage that ran longest in total: max over median task
    val skew = ts.groupBy(_.stageId).values.filter(_.length > 1)
      .maxByOption(_.map(_.runMs).sum)
      .map { st =>
        val med = Stats.median(st.map(_.runMs.toDouble).toSeq)
        if (med > 0) st.map(_.runMs).max / med else 1.0
      }.getOrElse(1.0)
    EngineTotals(
      jobs = js.length,
      stages = js.flatMap(_.stageIds).count(stages.contains),
      tasks = ts.length,
      taskRunS = ts.map(_.runMs).sum / 1e3,
      taskCpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1e3,
      inputMb = ts.map(_.inBytes).sum / mb,
      outputMb = ts.map(_.outBytes).sum / mb,
      shuffleReadMb = ts.map(_.shReadBytes).sum / mb,
      shuffleWriteMb = ts.map(_.shWriteBytes).sum / mb,
      spillMb = ts.map(_.spillBytes).sum / mb,
      taskSkew = skew)
  }

  /** Spark jobs and their stages as spans, each job under the span whose
    * id is its job group.
    */
  def addSpans(tracer: Tracer, spanOfGroup: String => Option[Int]): Unit = synchronized {
    jobs.values.foreach { j =>
      spanOfGroup(j.group).foreach { parent =>
        if (j.endMs >= j.submitMs) {
          val jid = tracer.add(s"job ${j.id}", "spark_job",
            j.submitMs * 1000, j.endMs * 1000, parent)
          j.stageIds.flatMap(stages.get).filter(s => s.submitMs > 0 && s.endMs >= s.submitMs)
            .foreach(s => tracer.add(s"stage ${s.id}", "spark_stage",
              s.submitMs * 1000, s.endMs * 1000, jid))
        }
      }
    }
  }
}

object EngineListener {
  final case class Job(id: Int, group: String, submitMs: Long,
      var endMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, submitMs: Long, endMs: Long)
  final case class Task(stageId: Int, ok: Boolean, runMs: Long, cpuNs: Long, gcMs: Long,
      inBytes: Long, outBytes: Long, shReadBytes: Long, shWriteBytes: Long,
      spillBytes: Long)
}

final case class EngineTotals(jobs: Int, stages: Int, tasks: Int,
    taskRunS: Double, taskCpuS: Double, gcS: Double, inputMb: Double,
    outputMb: Double, shuffleReadMb: Double, shuffleWriteMb: Double,
    spillMb: Double, taskSkew: Double)
