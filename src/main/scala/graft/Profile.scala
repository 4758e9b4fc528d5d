package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Dev profiling tool (optimization rounds): run the named queries under
  * the Bench session config and attribute wall time to (a) plan
  * construction, (b) each Spark job, (c) per-stage task time — so an
  * iterative query's cost decomposes into its rounds instead of one
  * opaque number. Usage: runMain graft.Profile [sfDir] query [query...]
  *
  * Not part of the driver contract; Bench/Verify are unchanged.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    // A/B experiments: SPARK_GRAFT_PROFILE_CONF="k=v;k=v" overlays extra
    // session confs so a hypothesis (AQE off, advisory size, codegen)
    // can be tested without editing the tool.
    val overlay = sys.env.get("SPARK_GRAFT_PROFILE_CONF").toSeq
      .flatMap(_.split(";")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        (k.trim, v.trim)
      }
    val spark = GraftSession.local(extraConf = overlay)

    case class JobRec(id: Int, desc: String, start: Long, var end: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, var taskTimeMs: Long = 0L,
      var names: List[String] = Nil)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, desc, e.time)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
            j.stages += 1
            j.tasks += si.numTasks
            j.taskTimeMs += si.taskMetrics.executorRunTime
            j.names ::= si.name.take(80)
          }
        }
    })

    // untimed warmup (JVM + codegen + parquet footers), same as Bench
    SparkEntry.queries("vc_returnflag")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()

    names.foreach { n =>
      println(s"\n========== $n ==========")
      (1 to 3).foreach { it =>
        jobs.synchronized { jobs.clear(); stageToJob.clear() }
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(n)(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        println(f"iter $it: total ${(t3 - t0) / 1e9}%7.3f s  " +
          f"(construct ${(t1 - t0) / 1e9}%6.3f, plan ${(t2 - t1) / 1e9}%6.3f, " +
          f"exec ${(t3 - t2) / 1e9}%6.3f)")
        if (it == 3) jobs.synchronized {
          jobs.values.foreach { j =>
            val dur = if (j.end > 0) (j.end - j.start) / 1e3 else -1.0
            println(f"  job ${j.id}%3d ${dur}%7.3f s  stages=${j.stages}%2d " +
              f"tasks=${j.tasks}%4d taskTime=${j.taskTimeMs / 1e3}%7.2f s  " +
              f"${j.names.reverse.mkString(" | ").take(110)}")
          }
        }
      }
    }
    spark.stop()
  }
}
