package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-query execution profile: runs each named query through the noop
  * sink (Bench's timed action) with a listener recording every Spark
  * job's wall, stage count, task count, and shuffle bytes — the §1/§2
  * "where does the time go" measurement the optimization guide asks for
  * before touching anything.
  *
  * Usage: runMain graft.tools.Profile q72_curation,q130_bpe_learn [reps]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Profile q1,q2,... [reps]")
    val names = args(0).split(",").map(_.trim).toSeq
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.queryPack("graft-profile")

    case class JobRec(id: Int, desc: String, submitted: Long,
                      var finished: Long = 0L, var nStages: Int = 0,
                      var nTasks: Int = 0, var shuffleRead: Long = 0L,
                      var shuffleWrite: Long = 0L, var input: Long = 0L)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, desc, e.time, nStages = e.stageIds.size)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobs.get(e.jobId).foreach(_.finished = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.nTasks += si.numTasks
          j.shuffleRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shuffleWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
          j.input += si.taskMetrics.inputMetrics.bytesRead
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    names.foreach { name =>
      val fn = graft.queries.QueryPack.all(name)
      (1 to reps).foreach { rep =>
        jobs.clear(); stageToJob.clear()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        df.write.mode("overwrite").format("noop").save()
        val tTotal = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let listener events drain
        println(f"== $name rep$rep: total $tTotal%.3fs (construct $tBuild%.3fs), ${jobs.size} jobs")
        val recs = jobs.values.toSeq
        // gap analysis: time between consecutive jobs = driver-side work
        var prevEnd = 0L
        recs.foreach { j =>
          val wall = (j.finished - j.submitted) / 1e3
          val gap = if (prevEnd == 0) 0.0 else (j.submitted - prevEnd) / 1e3
          prevEnd = j.finished
          println(f"  job ${j.id}%3d wall $wall%7.3fs gap $gap%7.3fs stages ${j.nStages}%2d tasks ${j.nTasks}%4d " +
            f"in ${j.input / 1048576.0}%7.1fMB sr ${j.shuffleRead / 1048576.0}%7.1fMB sw ${j.shuffleWrite / 1048576.0}%7.1fMB " +
            s"${j.desc.take(60)}")
        }
      }
    }
    spark.stop()
  }
}
