package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Listener counters for the traced run, registered from outside the
  * program: one record per job (interval, call site, SQL execution,
  * summed task metrics), per SQL execution (interval and the warehouse
  * path its plan writes), per streaming trigger (`durationMs` phases)
  * and per change of cached-block bytes. `run.py` attributes them to
  * spans by time. */
final class Recorder(out: Out) extends SparkListener {

  private final class Job(val id: Int, val t0: Long, val site: String, val exec: Option[Long],
      val stages: Seq[Int]) {
    var t1 = 0L
    var ok = false
    var tasks, failedTasks = 0L
    var taskMs, gcMs, shuffleWrite, shuffleRead, spill, recordsWritten = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val execs = mutable.LinkedHashMap.empty[Long, (Long, String)]
  private val cached = mutable.Map.empty[String, Long]
  private var cachedTotal = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
    val j = new Job(e.jobId, e.time, site, exec, e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.t1 = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (!e.taskInfo.successful) j.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.taskMs += m.executorRunTime
        j.gcMs += m.jvmGCTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
        j.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockManagerId.toString + "/" + info.blockId.name
      val bytes = info.memSize + info.diskSize
      cachedTotal += bytes - cached.getOrElse(key, 0L)
      if (bytes == 0) cached.remove(key) else cached(key) = bytes
      out.put("cache", "t" -> Harness.now(), "bytes" -> cachedTotal)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val path = Recorder.WarehousePath.findFirstMatchIn(s.physicalPlanDescription)
        .map(_.group(1)).getOrElse("")
      execs(s.executionId) = (s.time, path)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.remove(s.executionId).foreach { case (t0, path) =>
        out.put("sql", "id" -> s.executionId, "t0" -> t0, "t1" -> s.time, "path" -> path)
      }
    }
    case _ => ()
  }

  /** Writes one record per finished job. */
  def flush(): Unit = synchronized {
    jobs.values.filter(_.t1 > 0).foreach { j =>
      out.put("job", "id" -> j.id, "t0" -> j.t0, "t1" -> j.t1, "site" -> j.site,
        "exec" -> j.exec, "ok" -> j.ok, "stages" -> j.stages.size, "tasks" -> j.tasks,
        "tasks_failed" -> j.failedTasks, "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
        "shuffle_write" -> j.shuffleWrite, "shuffle_read" -> j.shuffleRead,
        "spill" -> j.spill, "records_written" -> j.recordsWritten)
    }
  }
}

object Recorder {
  /** The warehouse table a write targets, from the write node's
    * arguments in the plan description: `datasets/<Table>` or
    * `normalized/<table>` (the layout `Pimdb` writes). */
  private val WarehousePath =
    """Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n){0,3}?Arguments: \S*?((?:datasets|normalized)/[A-Za-z_]+)""".r

  def attach(spark: SparkSession, out: Out): Recorder = {
    val r = new Recorder(out)
    spark.sparkContext.addSparkListener(r)
    spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val d = e.progress.durationMs
        out.put("trigger", "t" -> Harness.now(),
          "ms" -> d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap)
      }
    })
    r
  }
}
