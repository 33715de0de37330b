package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** Stage-level breakdown for registered gates: runs each named query
  * once (after one untimed warmup) and prints, per job and per stage,
  * wall time vs summed task time, task counts and shuffle volumes —
  * the local-mode stand-in for the Spark UI's stage page (the UI is
  * off in every graft session). Distinguishes scheduling/driver gaps
  * (query wall >> Σ stage wall), low parallelism (stage wall ≈ Σ task
  * time despite many cores) and shuffle weight (bytes). A measurement
  * tool like ScaleProbe/ABProbe — not part of the driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.StageProbe name...
  */
object StageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // two distinct failure messages (r21 advice): zero args used to
    // print a misleading empty "unknown query name(s):"
    require(args.nonEmpty,
      "usage: runMain graft.StageProbe <query name>... (none given)")
    val unknown = args.toSet -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    val spark = GraftSession.localBuilder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.BoundedWindow.quietBoundedWarnings()

    final case class StageRow(jobId: Int, stageId: Int, name: String,
      tasks: Int, wallMs: Long, taskMs: Long, shufReadB: Long,
      shufWriteB: Long, inputB: Long, deserMs: Long, gcMs: Long,
      resSerMs: Long, fetchWaitMs: Long)
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRow]()
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        js.stageIds.foreach(sid => stageToJob.put(sid, js.jobId))
        jobs.put(js.jobId, (js.time, -1L))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(je.jobId, (_, v) => (v._1, je.time))
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stages.add(StageRow(
          stageToJob.getOrDefault(si.stageId, -1), si.stageId,
          si.name.takeWhile(_ != '\n').take(70), si.numTasks,
          (for {s <- si.submissionTime; c <- si.completionTime} yield c - s)
            .getOrElse(-1L),
          m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.executorDeserializeTime, m.jvmGCTime, m.resultSerializationTime,
          m.shuffleReadMetrics.fetchWaitTime))
      }
    }
    args.foreach { name =>
      // untimed warmup (codegen, footers)
      SparkEntry.queries(name)(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
      Bench.quiesce(spark)
      stages.clear(); jobs.clear(); stageToJob.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop")
        .mode("overwrite").save()
      val wallSec = (System.nanoTime() - t0) / 1e9
      // listener-bus drain before reading (the bus is private API, so
      // poll the observed stage count for stability instead of a fixed
      // sleep — a loaded box could deliver late StageCompleted events
      // past any constant window and silently underreport): drained
      // means two consecutive stable 150 ms windows (so >= 300 ms
      // waited), capped at 5 s
      var stableWindows = 0
      var lastSize = stages.size()
      var waitedMs = 0L
      while (stableWindows < 2 && waitedMs < 5000L) {
        Thread.sleep(150); waitedMs += 150
        val size = stages.size()
        stableWindows = if (size == lastSize) stableWindows + 1 else 0
        lastSize = size
      }
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(_.stageId)
      val jobWall = jobs.asScala.toSeq.collect {
        case (_, (s, e)) if e > 0 => e - s }.sum
      println(f"%n===== $name wall $wallSec%.2fs  jobs ${jobs.size}  " +
        f"jobWallSum ${jobWall / 1000.0}%.2fs  stages ${rows.size}  " +
        f"stageWallSum ${rows.map(_.wallMs).sum / 1000.0}%.2fs  " +
        f"taskTimeSum ${rows.map(_.taskMs).sum / 1000.0}%.2fs")
      rows.filter(r => r.wallMs >= 20 || r.taskMs >= 20).foreach { r =>
        println(f"  j${r.jobId}%-4d s${r.stageId}%-5d tasks ${r.tasks}%-4d " +
          f"wall ${r.wallMs / 1000.0}%6.2fs task ${r.taskMs / 1000.0}%6.2fs " +
          f"deser ${r.deserMs / 1000.0}%5.2fs gc ${r.gcMs / 1000.0}%5.2fs " +
          f"fw ${r.fetchWaitMs / 1000.0}%5.2fs " +
          f"in ${r.inputB / 1e6}%7.1fMB sr ${r.shufReadB / 1e6}%6.1fMB " +
          f"sw ${r.shufWriteB / 1e6}%6.1fMB  ${r.name}")
      }
      Bench.quiesce(spark)
    }
    spark.stop()
  }
}
