package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** SparkListener that attributes jobs, stages and task metrics to the
  * job group that was set around each query (or, for a streaming
  * query, to the group Spark sets to the query's run id). Events only
  * accumulate here; `groups` and `spans` read them after the listener
  * bus has drained. */
final class Recorder extends SparkListener {

  private final class Stage(val group: String, val job: Int) {
    var submitted, completed = 0.0
    var tasks = 0L
    val m = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  }

  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobTimes = mutable.LinkedHashMap.empty[Int, (Double, Double)]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val aliases = mutable.Map.empty[String, String]

  /** Report group `from` (e.g. a streaming run id) under `to`. */
  def alias(from: String, to: String): Unit = synchronized { aliases(from) = to }

  private def name(g: String): String = aliases.getOrElse(g, g)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobGroup(e.jobId) = g
    jobTimes(e.jobId) = (e.time.toDouble, e.time.toDouble)
    e.stageIds.foreach(s => stages.getOrElseUpdate(s, new Stage(g, e.jobId)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobTimes.get(e.jobId).foreach { case (s, _) =>
      jobTimes(e.jobId) = (s, e.time.toDouble) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages.get(i.stageId).foreach { s =>
        s.submitted = i.submissionTime.getOrElse(0L).toDouble
        s.completed = i.completionTime.getOrElse(0L).toDouble
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); t <- Option(e.taskMetrics)) {
      val info = e.taskInfo
      s.tasks += 1
      val m = s.m
      val run = t.executorRunTime.toDouble
      m("run_ms") += run
      m("cpu_ms") += t.executorCpuTime / 1e6
      m("gc_ms") += t.jvmGCTime
      m("delay_ms") += math.max(0.0, info.duration - run -
        t.executorDeserializeTime - t.resultSerializationTime -
        info.gettingResultTime)
      m("shuffle_write_b") += t.shuffleWriteMetrics.bytesWritten
      m("shuffle_read_b") += t.shuffleReadMetrics.totalBytesRead
      m("fetch_wait_ms") += t.shuffleReadMetrics.fetchWaitTime
      m("spill_mem_b") += t.memoryBytesSpilled
      m("spill_disk_b") += t.diskBytesSpilled
      m("input_b") += t.inputMetrics.bytesRead
      m("input_rows") += t.inputMetrics.recordsRead
      m("output_b") += t.outputMetrics.bytesWritten
    }
  }

  /** Per group: jobs, completed stages, tasks and summed task metrics. */
  def groups(): Seq[Map[String, Any]] = synchronized {
    val byGroup = jobGroup.groupBy { case (_, g) => name(g) }
    byGroup.toSeq.sortBy(_._1).map { case (g, jobs) =>
      val st = stages.values.filter(s => name(s.group) == g && s.completed > 0)
      val sums = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
      st.foreach(_.m.foreach { case (k, v) => sums(k) += v })
      Map("group" -> g, "jobs" -> jobs.size, "stages" -> st.size,
        "tasks" -> st.map(_.tasks).sum,
        "stage_ms" -> st.map(s => s.completed - s.submitted).sum) ++ sums
    }
  }

  /** Job and stage spans, parented to their query (group) and job. */
  def spans(): Seq[Map[String, Any]] = synchronized {
    val jobs = jobTimes.toSeq.map { case (j, (s, e)) =>
      Map("id" -> s"job$j", "parent" -> name(jobGroup(j)),
        "kind" -> "job", "start_ms" -> s, "end_ms" -> e)
    }
    val sts = stages.toSeq.filter(_._2.completed > 0).map { case (id, s) =>
      Map("id" -> s"stage$id", "parent" -> s"job${s.job}",
        "kind" -> "stage", "start_ms" -> s.submitted, "end_ms" -> s.completed,
        "tasks" -> s.tasks)
    }
    jobs ++ sts
  }
}
