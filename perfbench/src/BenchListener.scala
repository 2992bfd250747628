package graftbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Records what the scheduler did per job and per stage, tagged with the
  * span that was open when the work was submitted. The harness names
  * that span in the `graftbench.span` local property before each phase;
  * work submitted from a thread that did not inherit the property keeps
  * an empty tag and is placed by its start time afterwards.
  *
  * The listener is registered once per SparkContext (part of set-up) and
  * ignores events unless `on` is set, so untraced passes pay only the
  * bus dispatch.
  */
final class BenchListener extends SparkListener {
  @volatile var on = false

  private final class Stage(val key: String) {
    var completed, singleTask = false
    var tasks, runMs, cpuNs, gcMs = 0L
    var inBytes, inRecords, shuffleWrite, shuffleRecords, shuffleRead, spill = 0L
    var outBytes, outRecords = 0L
  }

  private final class Job(val id: Int, val key: String, val startMs: Long,
      val stageIds: Seq[Int]) {
    var endMs = -1L
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]

  private def keyOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(BenchListener.Prop)))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
    jobs += new Job(e.jobId, keyOf(e.properties), e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (on) synchronized {
      stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(keyOf(e.properties)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (on) synchronized {
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.completed = true
        s.singleTask = e.stageInfo.numTasks == 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecords += m.inputMetrics.recordsRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        s.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        s.spill += m.diskBytesSpilled
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRecords += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Everything recorded since the last call, as JSON fragments
    * (jobs array, stages array), with times in seconds after `epochMs0`.
    * Call after the listener bus has drained.
    */
  def drainJson(epochMs0: Long): (String, String) = synchronized {
    def sec(ms: Long) = Json.num((ms - epochMs0) / 1000.0)
    val js = jobs.map { j =>
      Json.obj(Seq("id" -> j.id.toString, "key" -> Json.str(j.key),
        "t0" -> sec(j.startMs),
        "t1" -> sec(if (j.endMs < 0) j.startMs else j.endMs),
        "stages" -> Json.arr(j.stageIds.map(_.toString))))
    }
    val ss = stages.collect { case (id, s) if s.completed =>
      Json.obj(Seq("id" -> id.toString, "key" -> Json.str(s.key),
        "single_task" -> s.singleTask.toString) ++ Seq(
        "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "gc_ms" -> s.gcMs, "in_bytes" -> s.inBytes,
        "in_records" -> s.inRecords, "shuffle_write" -> s.shuffleWrite,
        "shuffle_records" -> s.shuffleRecords,
        "shuffle_read" -> s.shuffleRead, "spill" -> s.spill,
        "out_bytes" -> s.outBytes, "out_records" -> s.outRecords)
        .map { case (k, v) => k -> v.toString })
    }
    jobs.clear(); stages.clear()
    (Json.arr(js), Json.arr(ss))
  }
}

object BenchListener {
  val Prop = "graftbench.span"
}
