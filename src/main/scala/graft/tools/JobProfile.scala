package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

import graft.staging.Staging

/** Scratch profiler (not part of the product surface): run named
  * SparkEntry queries with a listener and print the per-job / per-stage
  * decomposition — job wall clock, per-stage summed task time, shuffle
  * read/write bytes, task counts. This is the local stand-in for the
  * Spark UI's Stages tab (guide §1.1/§7.1): with the UI disabled in
  * every bench JVM, it is how a hot query's time is attributed to
  * operators before optimizing it.
  * Usage: JobProfile <sfDir> <q1,q2,...> [reps=2] */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args(1).split(',')
    val reps = args.drop(2).headOption.map(_.toInt).getOrElse(2)
    val spark = graft.GraftSession.build(graft.GraftSession.cpus(32))
    // fail-fast digest resolution + stale-staging GC of this session's
    // warehouse (the one staging root), before any Spark work
    Staging.initStaging(spark)
    spark.sparkContext.setLogLevel("ERROR")

    case class StageAgg(var name: String = "", var tasks: Int = 0,
      var taskTimeMs: Long = 0, var shufReadB: Long = 0, var shufWriteB: Long = 0,
      var inputB: Long = 0, var maxTaskMs: Long = 0, var cpuMs: Long = 0)
    val stages = mutable.LinkedHashMap[Int, StageAgg]()
    val jobs = mutable.LinkedHashMap[Int, (Long, Long, Seq[Int])]() // id -> (t0, t1, stageIds)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.synchronized { jobs(j.jobId) = (j.time, 0L, j.stageIds) }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(j.jobId).foreach { case (t0, _, s) =>
          jobs(j.jobId) = (t0, j.time, s) } }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.synchronized {
          val a = stages.getOrElseUpdate(sc.stageInfo.stageId, StageAgg())
          a.name = sc.stageInfo.name
        }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = stages.synchronized {
        val a = stages.getOrElseUpdate(t.stageId, StageAgg())
        a.tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          a.taskTimeMs += m.executorRunTime
          a.cpuMs += m.executorCpuTime / 1000000
          if (m.executorRunTime > a.maxTaskMs) a.maxTaskMs = m.executorRunTime
          a.shufReadB += m.shuffleReadMetrics.totalBytesRead
          a.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          a.inputB += m.inputMetrics.bytesRead
        }
      }
    }

    names.foreach { n =>
      // warm rep(s) first so the profiled rep is steady-state, not JIT
      (1 until reps).foreach { _ =>
        graft.SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
      }
      stages.clear(); jobs.clear()
      spark.sparkContext.addSparkListener(listener)
      System.gc()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, dir).queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.removeSparkListener(listener)
      // listener events drain asynchronously
      Thread.sleep(500)
      println(f"\n===== $n: wall $wall%.3f s, ${jobs.size} jobs, ${stages.size} stages =====")
      jobs.toSeq.sortBy(_._1).foreach { case (id, (a, b, sids)) =>
        val ms = if (b > a) b - a else -1
        val st = sids.flatMap(stages.get)
        println(f"  job $id%3d ${ms / 1000.0}%7.3f s  stages=${sids.mkString(",")} " +
          f"taskTime=${st.map(_.taskTimeMs).sum / 1000.0}%7.2f s")
      }
      val top = stages.toSeq.sortBy(-_._2.taskTimeMs).take(12)
      top.foreach { case (id, a) =>
        println(f"  stage $id%3d tasks=${a.tasks}%3d taskTime=${a.taskTimeMs / 1000.0}%8.2f s " +
          f"cpu=${a.cpuMs / 1000.0}%7.2f maxTask=${a.maxTaskMs / 1000.0}%6.2f " +
          f"in=${a.inputB / 1e6}%8.1f MB sr=${a.shufReadB / 1e6}%7.1f MB sw=${a.shufWriteB / 1e6}%7.1f MB  ${a.name.take(80)}")
      }
    }
    spark.stop()
  }
}
