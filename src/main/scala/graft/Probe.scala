package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Debug main: look at declared queries one at a time, at
  * SPARK_GRAFT_SF_DIR (default sf0.1), on the [[Session.local]] session.
  *
  *  - `time q...`: warm each query at sf0.001 (codegen, classload), then
  *    print the min of 5 passes. A pass is Bench's own step
  *    ([[Bench.timeOnce]]), so the two read alike.
  *  - `jobs q...`: after one warm pass at each scale, run the query once
  *    more under a listener and print a per-job wall/task breakdown —
  *    where a loop query's time goes (driver actions, checkpoints,
  *    collects), which a plan alone cannot show.
  *  - `plan <outDir> q...`: write `<outDir>/<q>.txt`, the formatted
  *    physical plan as AQE finalised it.
  *
  * Usage: sbt 'runMain graft.Probe time q_broadcast_join'
  */
object Probe {
  private val warmDir = "/root/testdata/sf0.001"

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val names = args.drop(if (mode == "plan") 2 else 1).toSeq
    require(Set("time", "jobs", "plan")(mode) && names.nonEmpty,
      "usage: graft.Probe time q... | jobs q... | plan <outDir> q...")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(Session.cpus)
    names.foreach { n =>
      mode match {
        case "time" => time(spark, n, dir)
        case "jobs" => jobs(spark, n, dir)
        case "plan" =>
          val out = args(1)
          new java.io.File(out).mkdirs()
          val w = new java.io.PrintWriter(s"$out/$n.txt")
          try w.println(plan(spark, n, dir)) finally w.close()
          println(s"[probe] wrote $out/$n.txt")
      }
    }
    spark.stop()
  }

  private def time(spark: SparkSession, name: String, dir: String): Unit = {
    val fn = SparkEntry.queries(name)
    Bench.timeOnce(spark, name, fn, warmDir)
    val ts = Seq.fill(5)(Bench.timeOnce(spark, name, fn, dir))
    ts.collectFirst { case Left(msg) => msg }
      .foreach(msg => System.err.println(s"[probe] $name failed: $msg"))
    val ok = ts.collect { case Right(t) => t }
    val all = ts.map(_.fold(_ => "error", t => f"$t%.3f")).mkString(",")
    println(f"TIME $name min=${ok.minOption.getOrElse(-1.0)}%.3f all=$all")
  }

  private def jobs(spark: SparkSession, name: String, dir: String): Unit = {
    val fn = SparkEntry.queries(name)
    // warm pass at the target dir too (page cache + plan cache effects), so
    // the instrumented pass measures steady state like Bench's min
    Bench.timeOnce(spark, name, fn, warmDir)
    Bench.timeOnce(spark, name, fn, dir)

    case class J(id: Int, desc: String, sub: Long, stages: Int,
      var end: Long = 0L, var tasks: Int = 0, var taskTime: Long = 0L,
      var gc: Long = 0L, var cpu: Long = 0L, var shufR: Long = 0L,
      var shufW: Long = 0L, var deser: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, J]
    val stageToJob = mutable.HashMap.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          // fall back to the result stage's callsite name — queries don't
          // set job descriptions, and the callsite at least distinguishes
          // checkpoint / collect / broadcast-build jobs
          .orElse(e.stageInfos.lastOption.map(_.name))
          .getOrElse("")
        jobs(e.jobId) = J(e.jobId, d, e.time, e.stageIds.size)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.get(e.jobId).foreach(_.end = e.time)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += 1
          if (e.taskInfo != null) j.taskTime += e.taskInfo.duration
          if (e.taskMetrics != null) {
            j.gc += e.taskMetrics.jvmGCTime
            j.cpu += e.taskMetrics.executorCpuTime / 1000000L
            j.deser += e.taskMetrics.executorDeserializeTime
            j.shufR += e.taskMetrics.shuffleReadMetrics.totalBytesRead
            j.shufW += e.taskMetrics.shuffleWriteMetrics.bytesWritten
          }
        }
    }
    // a plain count, not the Watchdog: its job group would overwrite every
    // job's description with the query name
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, dir).count()
    val t = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300) // drain listener bus
    spark.sharedState.cacheManager.clearCache()
    println(f"JOBS $name total=$t%.3f s  jobs=${jobs.size}")
    var covered = 0L
    jobs.values.foreach { j =>
      val w = (j.end - j.sub).max(0L); covered += w
      println(f"  job ${j.id}%3d  wall=${w / 1000.0}%7.3f  stages=${j.stages}%2d" +
        f"  tasks=${j.tasks}%4d  taskTime=${j.taskTime / 1000.0}%8.3f" +
        f"  cpu=${j.cpu / 1000.0}%7.3f  gc=${j.gc / 1000.0}%6.3f" +
        f"  deser=${j.deser / 1000.0}%6.3f" +
        f"  shufR=${j.shufR / 1024}%6dK shufW=${j.shufW / 1024}%6dK  ${j.desc.take(60)}")
    }
    println(f"  sum(job walls)=${covered / 1000.0}%.3f s  (gap to total = driver-side planning/collect overhead)")
  }

  /** The formatted physical plan of a declared query, after running it.
    * The action runs on the Dataset's own QueryExecution: `count()` would
    * plan and run a separate aggregate, and leave this plan's
    * AdaptiveSparkPlanExec unexecuted (`isFinalPlan=false`).
    */
  def plan(spark: SparkSession, name: String, dir: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect()
    val txt = df.queryExecution.explainString(FormattedMode)
    spark.sharedState.cacheManager.clearCache()
    txt
  }
}
