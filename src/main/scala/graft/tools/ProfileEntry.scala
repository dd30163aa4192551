package graft.tools

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Scratch profiler (not part of the driver contract): runs one catalog
  * entry end-to-end — same session settings as Bench — and prints every
  * Spark job it launched with wall time, task count, task time and the
  * first line of the job's call site, so a multi-second entry can be
  * broken into its constituent actions without the UI. A second pass is
  * timed too (warm figure), with per-job detail from the warm pass.
  *
  *   runMain graft.tools.ProfileEntry <entry> [sfDir] [passes]
  */
object ProfileEntry {
  def main(args: Array[String]): Unit = {
    val entry = args.headOption.getOrElse("g15_reference_sql")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    val spark = graft.core.Session.local()
    spark.sparkContext.setLogLevel("WARN")
    try spark.read.parquet(s"$sfDir/nation.parquet")
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }

    case class JobRec(id: Int, desc: String, start: Long,
      var end: Long = 0L, var tasks: Int = 0, var taskMs: Long = 0L,
      var shuffleWr: Long = 0L,
      stages: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    val stageToJob = mutable.Map.empty[Int, Int]
    val execDesc = mutable.Map.empty[String, String]
    var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          jobs.synchronized {
            execDesc(s.executionId.toString) =
              s.physicalPlanDescription.linesIterator
                .filter(_.nonEmpty).take(2).mkString(" ~ ")
          }
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (collecting) {
          val execId = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          val desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(execId.map(id => "exec " + id))
            .getOrElse("?")
          jobs.synchronized {
            jobs(e.jobId) = JobRec(e.jobId, desc, e.time)
            e.stageIds.foreach(s => stageToJob(s) = e.jobId)
          }
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        jobs.synchronized {
          stageToJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach {
            j =>
              val scopes = e.stageInfo.rddInfos
                .flatMap(_.scope).map(_.name).distinct.mkString(">")
              j.stages +=
                s"[${e.stageInfo.stageId}/${e.stageInfo.numTasks}t " +
                  s"${scopes.take(120)}]"
          }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        jobs.synchronized {
          stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
            j.tasks += 1
            if (e.taskMetrics != null) {
              j.taskMs += e.taskMetrics.executorRunTime
              j.shuffleWr += e.taskMetrics.shuffleWriteMetrics.bytesWritten
            }
          }
        }
    })

    val fn = graft.SparkEntry.queries(entry)
    var pass = 1
    while (pass <= passes) {
      if (pass == passes) { jobs.clear(); stageToJob.clear(); collecting = true }
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"PASS $pass $entry%-28s $dt%7.2f s")
      pass += 1
    }
    collecting = false
    Thread.sleep(200)
    println(f"${"jobId"}%6s ${"t0_ms"}%7s ${"t1_ms"}%7s ${"wall_ms"}%8s ${"tasks"}%6s ${"taskMs"}%8s ${"shufMB"}%7s  desc")
    var gaps = 0L
    var prevEnd = 0L
    val origin = jobs.values.map(_.start).minOption.getOrElse(0L)
    jobs.values.toSeq.sortBy(_.start).foreach { j =>
      if (prevEnd > 0 && j.start > prevEnd) gaps += (j.start - prevEnd)
      prevEnd = math.max(prevEnd, if (j.end > 0) j.end else j.start)
      val lbl = j.stages.mkString(" ")
      println(f"${j.id}%6d ${j.start - origin}%7d ${j.end - origin}%7d ${j.end - j.start}%8d ${j.tasks}%6d ${j.taskMs}%8d ${j.shuffleWr / 1e6}%7.1f  ${lbl.take(130)}")
    }
    val totalWall = jobs.values.map(j => j.end - j.start).sum
    println(f"JOBS ${jobs.size} totalJobWall=${totalWall}ms interJobGaps=${gaps}ms")
    spark.stop()
  }
}
