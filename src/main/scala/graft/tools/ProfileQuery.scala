package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import graft.{Engine, QueryRun}

/** Dev profiling harness for ONE declared query: runs it `reps` times
  * against the bench's noop sink and prints, per run, the wall time split
  * into plan-construction vs execution, plus the Spark job count and the
  * per-job / per-stage wall breakdown of the LAST run — so a slow query
  * can be attributed to driver-side planning, job-count overhead (many
  * tiny actions), or one hot stage, before touching any code.
  *
  * Usage: dev/run.sh graft.tools.ProfileQuery <query> [reps] [sfDir]
  * Runtime confs: SPARK_GRAFT_CONF="k=v;k2=v2"; SPARK_GRAFT_FINALPLAN=1
  * prints the post-AQE executed plans.
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("q1_agg")
    val reps = args.drop(1).headOption.map(_.toInt).getOrElse(4)
    val sfDir = args.drop(2).headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Engine.session("graft-profile")
    // ad-hoc runtime conf experiments: SPARK_GRAFT_CONF="k=v;k2=v2" (core
    // confs go in as -Dspark.* system properties)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').filter(_.contains('='))
      .foreach { kv => val Array(k, v) = kv.split("=", 2)
        try spark.conf.set(k, v)
        catch { case e: Throwable => System.err.println(s"[pq] $k not set: ${e.getMessage}") } })
    spark.sparkContext.setLogLevel("WARN")

    case class JobRec(id: Int, desc: String, start: Long, var end: Long = 0L,
        var stages: List[(Int, String, Long)] = Nil)
    val jobs = new scala.collection.mutable.ArrayBuffer[JobRec]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.synchronized {
        jobs += JobRec(j.jobId,
          Option(j.properties.getProperty("spark.job.description")).getOrElse(""),
          j.time)
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.find(_.id == j.jobId).foreach(_.end = j.time)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val info = s.stageInfo
        val wall = (for {a <- info.completionTime; b <- info.submissionTime} yield a - b).getOrElse(-1L)
        if (jobs.nonEmpty)
          jobs.last.stages ::= ((info.stageId,
            s"tasks=${info.numTasks} " + info.name.takeWhile(_ != '\n').take(60), wall))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // SPARK_GRAFT_FINALPLAN=1: print the post-AQE executed plan of the
    // last noop write (shows runtime exchange/stage reuse).
    if (sys.env.get("SPARK_GRAFT_FINALPLAN").contains("1"))
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
          println("[pq-finalplan]\n" + qe.executedPlan.toString)
        override def onFailure(funcName: String,
            qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
      })

    QueryRun.warm(spark, sfDir)
    (1 to reps).foreach { i =>
      jobs.synchronized(jobs.clear())
      val o = QueryRun(spark, name, sfDir)(_.write.format("noop").mode("overwrite").save())
      if (!o.ok) System.err.println(s"[pq] $name run$i: ${o.failure}")
      Thread.sleep(150) // let the listener bus drain
      val (njobs, jobWall) = jobs.synchronized {
        (jobs.size, jobs.map(j => math.max(0L, j.end - j.start)).sum)
      }
      println(f"[pq] $name run$i: total ${o.totalS}%7.3f s  construct ${o.constructS}%6.3f  exec ${o.totalS - o.constructS}%7.3f  jobs $njobs%3d  jobWall ${jobWall / 1e3}%7.3f s")
      if (i == reps) jobs.synchronized {
        jobs.foreach { j =>
          println(f"[pq]   job ${j.id}%4d ${(j.end - j.start) / 1e3.toDouble}%8.3f s  ${j.desc.take(50)}")
          j.stages.reverse.foreach { case (sid, nm, w) =>
            println(f"[pq]     stage $sid%4d ${w / 1e3.toDouble}%8.3f s  $nm")
          }
        }
      }
    }
    spark.stop()
  }
}
